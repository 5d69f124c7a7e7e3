package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`: one entry per implemented operator (SURVEY.md §2);
  * `oracleSql`: DuckDB-equivalent SQL over the same parquet tables.
  * Column names/aliases match pairwise (the driver sorts columns by name
  * before hashing values).
  */
object SparkEntry {

  /** Flagship: the reference's hot-sections analytics end-to-end (synthetic
    * combined log lines → regex parse → keep-200 → broadcast dim join →
    * agg → top-10) on sf0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.hotSection(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_parse_fields" -> (Queries.parseFields _),
    "q_hot_section" -> (Queries.hotSection _),
    "q_hot_article" -> (Queries.hotArticle _),
    "q_client_ip" -> (Queries.clientIp _),
    "q1_agg" -> (Queries.q1Agg _),
    "q_filter_project" -> (Queries.filterProject _),
    "q_join_broadcast" -> (Queries.joinBroadcast _),
    "q_join_shuffle" -> (Queries.joinShuffle _),
    "q_semi_join" -> (Queries.semiJoin _),
    "q_nullsafe_join" -> (Queries.nullSafeJoin _),
    "q_anti_join" -> (Queries.antiJoin _),
    "q_outer_join" -> (Queries.outerJoin _),
    "q_topk" -> (Queries.topK _),
    "q_window" -> (Queries.windowFuncs _),
    "q_window_dist" -> (Queries.windowDist _),
    "q_rollup" -> (Queries.rollupAgg _),
    "q_cube" -> (Queries.cubeAgg _),
    "q_distinct_agg" -> (Queries.distinctAgg _),
    "q_set_union" -> (Queries.setUnion _),
    "q_set_intersect" -> (Queries.setIntersect _),
    "q_set_except" -> (Queries.setExcept _),
    "q_set_ops_all" -> (Queries.setOpsAll _),
    "q_explode" -> (Queries.explodeQ _),
    "q_string_funcs" -> (Queries.stringFuncs _),
    "q_date_funcs" -> (Queries.dateFuncs _),
    "q_date_funcs2" -> (Queries.dateFuncs2 _),
    "q_string_funcs2" -> (Queries.stringFuncs2 _),
    "q_math_funcs" -> (Queries.mathFuncs _),
    "q_case_agg" -> (Queries.caseAgg _),
    "q_json_funcs" -> (Queries.jsonFuncs _),
    "q_variant_funcs" -> (Queries.variantFuncs _),
    "q_text_stats" -> (Queries.textStats _),
    "q_pii_redact" -> (Queries.piiRedact _),
    "q_chunk_docs" -> (Queries.chunkDocs _),
    "q_lang_id" -> (Queries.langIdQ _),
    "q_repetition" -> (Queries.repetitionQ _),
    "q_fingerprint" -> (Queries.fingerprintQ _),
    "q_dedup_exact" -> (Queries.dedupExact _),
    "q_ngram_jaccard" -> (Queries.ngramJaccard _),
    "q_minhash_lsh" -> (Queries.minhashLshQ _),
    "q_containment" -> (Queries.containmentQ _),
    "q_containment_onesided" -> (Queries.containmentOnesidedQ _),
    "q_winnow" -> (Queries.winnowQ _),
    "q_winnow_coverage" -> (Queries.winnowCoverageQ _),
    "q_dedup_spans" -> (Queries.dedupSpansQ _),
    "q_dedup_strip" -> (Queries.dedupStripQ _),
    "q_dedup_spans_incr" -> (Queries.dedupSpansIncrQ _),
    "q_decontaminate_spans" -> (Queries.decontaminateSpans _),
    "q_mixture_weights" -> (Queries.mixtureWeights _),
    "q_simhash" -> (Queries.simhashQ _),
    "q_simhash_pairs" -> (Queries.simhashPairsQ _),
    "q_simhash_blocked" -> (Queries.simhashBlockedQ _),
    "q_knn_cosine" -> (Queries.knnCosine _),
    "q_embed_neardup" -> (Queries.embedNearDup _),
    "q_media_pipeline" -> (Queries.mediaPipeline _),
    "q_media_features" -> (Queries.mediaFeatures _),
    "q_approx_distinct" -> (Queries.approxDistinct _),
    "q_approx_quantile" -> (Queries.approxQuantileQ _),
    "q_label_centroids" -> (Queries.labelCentroids _),
    "q_ann_ivf" -> (Queries.annIvf _),
    "q_ann_pq" -> (Queries.annPq _),
    "q_ann_pq_lloyd" -> (Queries.annPqLloyd _),
    "q_ann_pq_refine" -> (Queries.annPqRefine _),
    "q_ann_ivfpq" -> (Queries.annIvfPq _),
    "q_ann_ivfpq_pruned" -> (Queries.annIvfPqPruned _),
    "q_ann_ivfpq_refine" -> (Queries.annIvfPqRefine _),
    "q_ann_ivfpq_sweep" -> (Queries.annIvfPqSweep _),
    "q_ann_pq_recall" -> (Queries.annPqRecall _),
    "q_ann_recall" -> (Queries.annRecall _),
    "q_ann_multitable" -> (Queries.annMultiTable _),
    "q_kmeans" -> (Queries.kmeansQ _),
    "q_stratified_split" -> (Queries.stratifiedSplit _),
    "q_topn_per_group" -> (Queries.topnPerGroup _),
    "q_range_join" -> (Queries.rangeJoin _),
    "q_cross_join" -> (Queries.crossJoinQ _),
    "q_grouping_sets" -> (Queries.groupingSets _),
    "q_map_funcs" -> (Queries.mapFuncs _),
    "q_scalar_subquery" -> (Queries.scalarSubquery _),
    "q_ann_lsh" -> (Queries.annLsh _),
    "q_salted_join" -> (Queries.saltedJoin _),
    "q_edit_distance" -> (Queries.editDistance _),
    "q_having" -> (Queries.havingQ _),
    "q_null_funcs" -> (Queries.nullFuncs _),
    "q_string_agg" -> (Queries.stringAgg _),
    "q_topk_typed" -> (Queries.topkTyped _),
    "q_stats_agg" -> (Queries.statsAgg _),
    "q_asof_join" -> (Queries.asofJoin _),
    "q_asof_bucketed" -> (Queries.asofJoinBucketed _),
    "q_asof_native" -> (Queries.asofJoinNative _),
    "q_sessionize" -> (Queries.sessionizeQ _),
    "q_recursive_chain" -> (Queries.recursiveChain _),
    "q_pivot" -> (Queries.pivotQ _),
    "q_percentiles" -> (Queries.percentilesQ _),
    "q_array_funcs" -> (Queries.arrayFuncs _),
    "q_curation" -> (Queries.curationQ _),
    "q_curation_spans" -> (Queries.curationSpansQ _),
    "q_curation_spancov" -> (Queries.curationSpanCovQ _),
    "q_curation_strip" -> (Queries.curationStripQ _),
    "q_exists" -> (Queries.existsSubquery _),
    "q_lateral" -> (Queries.lateralJoin _),
    "q_scalar_corr" -> (Queries.correlatedScalar _),
    "q_hof_funcs" -> (Queries.hofFuncs _),
    "q_resample" -> (Queries.resampleQ _),
    "q_freq_items" -> (Queries.freqItemsQ _),
    "q_dedup_clusters" -> (Queries.dedupClustersQ _),
    "q_cluster_split" -> (Queries.clusterSplitQ _),
    "q_dedup_incremental" -> (Queries.dedupIncremental _),
    "q_dedup_bloom" -> (Queries.dedupBloom _),
    "q_weighted_sample" -> (Queries.weightedSampleQ _),
    "q_group_cap" -> (Queries.groupCapQ _),
    "q_rebalance" -> (Queries.rebalanceQ _),
    "q_unpivot" -> (Queries.unpivotQ _),
    "q_window_range" -> (Queries.windowRange _),
    "q_bitwise" -> (Queries.bitwiseFuncs _),
    "q_global_sort" -> (Queries.globalSort _),
    "q_histogram" -> (Queries.histogramQ _),
    "q_funnel" -> (Queries.funnelQ _),
    "q_retention" -> (Queries.retentionQ _),
    "q_ohlc" -> (Queries.ohlcQ _),
    "q_vocab" -> (Queries.vocabQ _),
    "q_tfidf" -> (Queries.tfidfQ _),
    "q_fuzzy_join" -> (Queries.fuzzyJoin _),
    "q_transitions" -> (Queries.transitionsQ _),
    "q_zscore" -> (Queries.zscoreQ _),
    "q_interval_merge" -> (Queries.intervalMerge _),
    "q_seq_pack" -> (Queries.seqPack _),
    "q_doc_repetition" -> (Queries.docRepetition _),
    "q_decontaminate" -> (Queries.decontaminate _),
    "q_pagerank" -> (Queries.pagerankQ _),
    "q_cms" -> (Queries.cmsQ _),
    "q_session_window" -> (Queries.sessionWindowQ _),
    "q_histogram_eqdepth" -> (Queries.histogramEqDepth _),
    "q_zorder" -> (Queries.zorderQ _),
    "q_quantize" -> (Queries.quantizeQ _),
    "q_scd2" -> (Queries.scd2Q _),
    "q_event_paths" -> (Queries.eventPathsQ _),
    "q_profile" -> (Queries.profileQ _),
    "q_triangles" -> (Queries.trianglesQ _),
    "q_tpch3" -> (Queries.tpch3Q _),
    "q_tpch5" -> (Queries.tpch5Q _),
    "q_integrity" -> (Queries.integrityQ _),
    "q_tpch7" -> (Queries.tpch7Q _),
    "q_tpch10" -> (Queries.tpch10Q _),
    "q_tpch12" -> (Queries.tpch12Q _),
    "q_tpch14" -> (Queries.tpch14Q _),
    "q_tpch17" -> (Queries.tpch17Q _),
    "q_tpch20" -> (Queries.tpch20Q _),
    "q_tpch21" -> (Queries.tpch21Q _),
    "q_tpch22" -> (Queries.tpch22Q _),
    "q_tpch13" -> (Queries.tpch13Q _),
    "q_tpch19" -> (Queries.tpch19Q _),
    "q_tpch6" -> (Queries.tpch6Q _),
    "q_tpch15" -> (Queries.tpch15Q _),
    "q_tpch8" -> (Queries.tpch8Q _),
    "q_epoch_upsample" -> (Queries.epochUpsampleQ _),
    "q_temperature_sample" -> (Queries.temperatureSampleQ _),
    "q_token_budget" -> (Queries.tokenBudgetQ _),
    "q_tpch18" -> (Queries.tpch18Q _),
    "q_rolling_median" -> (Queries.rollingMedianQ _),
    "q_dau_cume" -> (Queries.dauCumeQ _),
    "q_skyline" -> (Queries.skylineQ _),
    "q_ignore_nulls" -> (Queries.ignoreNullsQ _),
    "q_try_funcs" -> (Queries.tryFuncsQ _),
    "q_bm25" -> (Queries.bm25Q _),
    "q_confusion" -> (Queries.confusionQ _),
    "q_ndcg" -> (Queries.ndcgQ _),
    "q_hopping" -> (Queries.hoppingQ _),
    "q_regexp_extract" -> (Queries.regexpExtractQ _),
    "q_mad" -> (Queries.madQ _),
    "q_zipf" -> (Queries.zipfQ _),
    "q_dsir" -> (Queries.dsirQ _),
    "q_nb_classifier" -> (Queries.nbClassifierQ _),
    "q_perceptron" -> (Queries.perceptronQ _),
    "q_perceptron_avg" -> (Queries.perceptronAvgQ _),
    "q_collocations" -> (Queries.collocationsQ _),
    "q_textrank" -> (Queries.textrankQ _),
    "q_quality_floor" -> (Queries.qualityFloorQ _),
    "q_allpairs" -> (Queries.allPairsExactQ _),
    "q_perceptron_ovr" -> (Queries.perceptronOvrQ _),
    "q_semdedup" -> (Queries.semdedupQ _),
    "q_export_shards" -> (Queries.exportShardsQ _),
    "q_tpch2" -> (Queries.tpch2Q _),
    "q_tpch4" -> (Queries.tpch4Q _),
    "q_tpch9" -> (Queries.tpch9Q _),
    "q_tpch11" -> (Queries.tpch11Q _),
    "q_tpch16" -> (Queries.tpch16Q _),
    "q_oov_rate" -> (Queries.oovRateQ _),
    "q_lm_score" -> (Queries.lmScoreQ _),
    "q_bloom_join" -> (Queries.bloomJoinQ _),
    "q_cdc_apply" -> (Queries.cdcApplyQ _),
    "q_bpe_merges" -> (Queries.bpeMergesQ _),
    "q_bpe_encode" -> (Queries.bpeEncodeQ _),
    "q_curation_lm" -> (Queries.curationLmQ _),
    "q_label_prop" -> (Queries.labelPropQ _),
    "q_incr_agg" -> (Queries.incrAggQ _),
    "q_zone_map" -> (Queries.zoneMapQ _),
    "q_kcore" -> (Queries.kCoreQ _),
    "q_link_pred" -> (Queries.linkPredQ _),
    "q_para_dedup" -> (Queries.paragraphDedupQ _),
    "q_pca_power" -> (Queries.pcaPowerQ _),
    "q_bfs" -> (Queries.bfsQ _),
    "q_assoc_rules" -> (Queries.assocRulesQ _),
    "q_phrase_search" -> (Queries.phraseSearchQ _),
    "q_calibration" -> (Queries.calibrationQ _),
    "q_compaction" -> (Queries.compactionQ _),
    "q_ppr" -> (Queries.pprQ _),
    "q_para_dedup_incr" -> (Queries.paraDedupIncrQ _),
    "q_sketch_rollup" -> (Queries.sketchRollupQ _),
    "q_hits" -> (Queries.hitsQ _),
    "q_ks_drift" -> (Queries.ksDriftQ _),
    "q_linreg" -> (Queries.linregQ _),
    "q_stump" -> (Queries.stumpQ _),
    "q_shard_balance" -> (Queries.shardBalanceQ _),
    "q_kanon" -> (Queries.kanonQ _),
    "q_rrf" -> (Queries.rrfQ _),
    "q_mmr" -> (Queries.mmrQ _),
    "q_mmr_ann" -> (Queries.mmrAnnQ _),
    "q_bool_search" -> (Queries.boolSearchQ _),
    "q_sssp" -> (Queries.ssspQ _),
    "q_weighted_quantile" -> (Queries.weightedQuantileQ _),
    "q_gini_source" -> (Queries.giniSourceQ _),
    "q_disorder" -> (Queries.disorderQ _),
    "q_trimmed_mean" -> (Queries.trimmedMeanQ _),
    "q_attribution" -> (Queries.attributionQ _),
    "q_neg_sample" -> (Queries.negSampleQ _),
    "q_minhash_acc" -> (Queries.minhashAccQ _),
    "q_degree_dist" -> (Queries.degreeDistQ _),
    "q_seasonality" -> (Queries.seasonalityQ _),
    "q_churn" -> (Queries.churnQ _),
    "q_langid_acc" -> (Queries.langidAccQ _),
    "q_rfm" -> (Queries.rfmQ _),
    "q_dup_rate" -> (Queries.dupRateQ _),
    "q_fertility" -> (Queries.fertilityQ _),
    "q_assortativity" -> (Queries.assortativityQ _),
    "q_canonical_keeper" -> (Queries.canonicalKeeperQ _),
    "q_budget_cut" -> (Queries.budgetCutQ _),
    "q_dedup_recall" -> (Queries.dedupRecallQ _),
    "q_diversity" -> (Queries.diversityQ _),
    "q_vocab_coverage" -> (Queries.vocabCoverageQ _),
    "q_user_concentration" -> (Queries.userConcentrationQ _),
    "q_wow_growth" -> (Queries.wowGrowthQ _),
    "q_cluster_sizes" -> (Queries.clusterSizesQ _),
    "q_session_conversion" -> (Queries.sessionConversionQ _),
    "q_pit_lookup" -> (Queries.pitLookupQ _),
    "q_winsorize" -> (Queries.winsorizeQ _),
    "q_gap_audit" -> (Queries.gapAuditQ _),
    "q_interarrival" -> (Queries.interarrivalQ _),
    "q_dup_sources" -> (Queries.dupSourcesQ _),
    "q_anomaly_days" -> (Queries.anomalyDaysQ _),
    "q_threshold_sweep" -> (Queries.thresholdSweepQ _),
    "q_mannwhitney" -> (Queries.mannWhitneyQ _),
    "q_spearman" -> (Queries.spearmanQ _),
    "q_acf" -> (Queries.acfQ _),
    "q_cusum" -> (Queries.cusumQ _),
    "q_chi2_indep" -> (Queries.chi2IndepQ _),
    "q_bleu" -> (Queries.bleuQ _),
    "q_item_cf" -> (Queries.itemCfQ _),
    "q_burstiness" -> (Queries.burstinessQ _),
    "q_isotonic" -> (Queries.isotonicQ _),
    "q_ktruss" -> (Queries.kTrussQ _),
    "q_life_table" -> (Queries.lifeTableQ _),
    "q_bootstrap" -> (Queries.bootstrapQ _),
    "q_ab_test" -> (Queries.abTestQ _),
    "q_ewma" -> (Queries.ewmaQ _),
    "q_dq_checks" -> (Queries.dqChecksQ _),
    "q_cms_topk" -> (Queries.cmsTopkQ _),
    "q_modularity" -> (Queries.modularityQ _),
    "q_richclub" -> (Queries.richClubQ _),
    "q_holt" -> (Queries.holtQ _),
    "q_holt_winters" -> (Queries.holtWintersQ _),
    "q_auc" -> (Queries.aucQ _),
    "q_kaplan_meier" -> (Queries.kaplanMeierQ _),
    "q_mann_kendall" -> (Queries.mannKendallQ _),
    "q_benford" -> (Queries.benfordQ _),
    "q_cohort_ltv" -> (Queries.cohortLtvQ _),
    "q_seq_mining" -> (Queries.seqMiningQ _),
    "q_markov_stationary" -> (Queries.markovStationaryQ _),
    "q_ab_srm" -> (Queries.abSrmQ _),
    "q_cuped" -> (Queries.cupedQ _),
    "q_qte" -> (Queries.qteQ _),
    "q_clustering_coef" -> (Queries.clusteringCoefQ _),
    "q_conductance" -> (Queries.conductanceQ _),
    "q_map" -> (Queries.mapQ _),
    "q_split_leakage" -> (Queries.splitLeakageQ _),
    "q_transitivity" -> (Queries.transitivityQ _),
    "q_funnel_window" -> (Queries.funnelWindowQ _),
    "q_time_to_convert" -> (Queries.timeToConvertQ _),
    "q_ngram_novelty" -> (Queries.ngramNoveltyQ _),
    "q_eb_smoothing" -> (Queries.ebSmoothingQ _),
    "q_peak_concurrency" -> (Queries.peakConcurrencyQ _),
    "q_dup_inflation" -> (Queries.dupInflationQ _),
    "q_good_turing" -> (Queries.goodTuringQ _),
    "q_anova" -> (Queries.anovaQ _),
    "q_mrr" -> (Queries.mrrQ _),
    "q_kneser_ney" -> (Queries.kneserNeyQ _),
    "q_rake" -> (Queries.rakeQ _),
    "q_kruskal_wallis" -> (Queries.kruskalWallisQ _),
    "q_ann_hamming" -> (Queries.annHammingQ _),
    "q_ann_hamming_refine" -> (Queries.annHammingRefineQ _),
    "q_ann_sq8" -> (Queries.annSq8Q _),
    "q_ann_quant_recall" -> (Queries.annQuantRecall _),
    "q_decompose" -> (Queries.decomposeQ _),
    "q_label_model" -> (Queries.labelModelQ _),
    "q_entropy" -> (Queries.entropyQ _),
    "q_js_div" -> (Queries.jsDivQ _),
    "q_harmonic_centrality" -> (Queries.harmonicCentralityQ _),
    "q_silhouette" -> (Queries.silhouetteQ _),
    "q_levene" -> (Queries.leveneQ _),
    "q_mcnemar" -> (Queries.mcnemarQ _),
    "q_did" -> (Queries.didQ _),
    "q_ar1" -> (Queries.ar1Q _),
    "q_chow_test" -> (Queries.chowTestQ _),
    "q_newey_west" -> (Queries.neweyWestQ _),
    "q_length_buckets" -> (Queries.lengthBucketsQ _),
    "q_team_draft" -> (Queries.teamDraftQ _),
    "q_matching" -> (Queries.matchingQ _),
    "q_placebo_test" -> (Queries.placeboTestQ _),
    "q_holm_bonferroni" -> (Queries.holmBonferroniQ _),
    "q_evalue" -> (Queries.evalueQ _),
    "q_wilson_ci" -> (Queries.wilsonCiQ _),
    "q_seasonal_mk" -> (Queries.seasonalMkQ _),
    "q_bm25_sweep" -> (Queries.bm25SweepQ _),
    "q_growth_accounting" -> (Queries.growthAccountingQ _),
    "q_interaction_coverage" -> (Queries.interactionCoverageQ _),
    "q_length_lognormal" -> (Queries.lengthLognormalQ _),
    "q_benjamini_yekutieli" -> (Queries.benjaminiYekutieliQ _),
    "q_mde" -> (Queries.mdeQ _),
    "q_mix_shift" -> (Queries.mixShiftQ _),
    "q_breusch_pagan" -> (Queries.breuschPaganQ _),
    "q_cooks_distance" -> (Queries.cooksDistanceQ _),
    "q_welch_ttest" -> (Queries.welchTtestQ _),
    "q_permutation_test" -> (Queries.permutationTestQ _),
    "q_logrank" -> (Queries.logrankQ _),
    "q_kmv_overlap" -> (Queries.kmvOverlapQ _),
    "q_betweenness" -> (Queries.betweennessQ _),
    "q_phash_dedup" -> (Queries.phashDedupQ _),
    "q_span_corrupt" -> (Queries.spanCorruptQ _),
    "q_cochran_q" -> (Queries.cochranQQ _),
    "q_cmh" -> (Queries.cmhQ _),
    "q_shapley" -> (Queries.shapleyQ _),
    "q_sax" -> (Queries.saxQ _),
    "q_dtw" -> (Queries.dtwQ _),
    "q_heavy_change" -> (Queries.heavyChangeQ _),
    "q_ldiversity" -> (Queries.lDiversityQ _),
    "q_changepoint" -> (Queries.changepointQ _),
    "q_lof" -> (Queries.lofQ _),
    "q_iv_wald" -> (Queries.ivWaldQ _),
    "q_ipw" -> (Queries.ipwQ _),
    "q_conformal" -> (Queries.conformalQ _),
    "q_friedman" -> (Queries.friedmanQ _),
    "q_map_at_k" -> (Queries.mapAtKQ _),
    "q_rouge" -> (Queries.rougeQ _),
    "q_viterbi" -> (Queries.viterbiQ _),
    "q_kalman" -> (Queries.kalmanQ _),
    "q_page_hinkley" -> (Queries.pageHinkleyQ _),
    "q_hurst" -> (Queries.hurstQ _),
    "q_tost" -> (Queries.tostQ _),
    "q_rdd_sharp" -> (Queries.rddSharpQ _),
    "q_ucb" -> (Queries.ucbQ _),
    "q_dbscan" -> (Queries.dbscanQ _),
    "q_crosscorr" -> (Queries.crossCorrQ _),
    "q_granger" -> (Queries.grangerQ _),
    "q_var_es" -> (Queries.varEsQ _),
    "q_croston" -> (Queries.crostonQ _),
    "q_durbin_watson" -> (Queries.durbinWatsonQ _),
    "q_ljung_box" -> (Queries.ljungBoxQ _),
    "q_runs_test" -> (Queries.runsTestQ _),
    "q_kendall_tau" -> (Queries.kendallTauQ _),
    "q_jarque_bera" -> (Queries.jarqueBeraQ _),
    "q_grubbs" -> (Queries.grubbsQ _),
    "q_effect_size" -> (Queries.effectSizeQ _),
    "q_f_test" -> (Queries.fTestQ _),
    "q_mood_median" -> (Queries.moodMedianQ _),
    "q_ses_grid" -> (Queries.sesGridQ _),
    "q_discord" -> (Queries.discordQ _),
    "q_closeness" -> (Queries.closenessQ _),
    "q_pseudonymize" -> (Queries.pseudonymizeQ _),
    "q_dataset_card" -> (Queries.datasetCardQ _),
    "q_knn_class" -> (Queries.knnClassQ _),
    "q_brier" -> (Queries.brierQ _),
    "q_lift_gains" -> (Queries.liftGainsQ _),
    "q_single_linkage" -> (Queries.singleLinkageQ _),
    "q_sample_size" -> (Queries.sampleSizeQ _),
    "q_needleman" -> (Queries.needlemanQ _),
    "q_forecast_eval" -> (Queries.forecastEvalQ _),
    "q_cem" -> (Queries.cemQ _),
    "q_tukey_fences" -> (Queries.tukeyFencesQ _),
    "q_qq_octiles" -> (Queries.qqOctilesQ _),
    "q_vocab_tail" -> (Queries.vocabTailQ _),
    "q_cross_val" -> (Queries.crossValQ _),
    "q_l1_centroid" -> (Queries.l1CentroidQ _),
    "q_robust_z" -> (Queries.robustZQ _),
    "q_uplift" -> (Queries.upliftQ _),
    "q_hodges_lehmann" -> (Queries.hodgesLehmannQ _),
    "q_kappa" -> (Queries.kappaQ _),
    "q_mcc" -> (Queries.mccQ _),
    "q_cronbach" -> (Queries.cronbachQ _),
    "q_partial_corr" -> (Queries.partialCorrQ _),
    "q_eccentricity" -> (Queries.eccentricityQ _),
    "q_theil_sen" -> (Queries.theilSenQ _),
    "q_tcloseness" -> (Queries.tClosenessQ _),
    "q_hhi" -> (Queries.hhiQ _),
    "q_odds_ratio" -> (Queries.oddsRatioQ _),
    "q_slope_one" -> (Queries.slopeOneQ _),
    "q_rbo" -> (Queries.rboQ _),
    "q_readability" -> (Queries.readabilityQ _),
    "q_kcenter" -> (Queries.kCenterQ _),
    "q_scc" -> (Queries.sccQ _),
    "q_allen" -> (Queries.allenRelationsQ _),
    "q_err" -> (Queries.errQ _),
    "q_borda" -> (Queries.bordaQ _),
    "q_huber" -> (Queries.huberQ _),
    "q_median_polish" -> (Queries.medianPolishQ _),
    "q_capture_recapture" -> (Queries.captureRecaptureQ _),
    "q_mattr" -> (Queries.mattrQ _),
    "q_pacf" -> (Queries.pacfQ _),
    "q_removal_effect" -> (Queries.removalEffectQ _),
    "q_fdr_bh" -> (Queries.fdrBhQ _),
    "q_embed_drift" -> (Queries.embedDriftQ _),
    "q_tree2" -> (Queries.tree2Q _),
    "q_ips_eval" -> (Queries.ipsEvalQ _),
    "q_disparate_impact" -> (Queries.disparateImpactQ _),
    "q_wilcoxon_signed" -> (Queries.wilcoxonSignedQ _),
    "q_cramers_v" -> (Queries.cramersVQ _),
    "q_dau_mau" -> (Queries.dauMauQ _),
    "q_ipf" -> (Queries.ipfQ _),
    "q_mixture_plan" -> (Queries.mixturePlanQ _),
    "q_cvm" -> (Queries.cvmQ _),
    "q_anderson_darling" -> (Queries.andersonDarlingQ _),
    "q_energy_dist" -> (Queries.energyDistQ _),
    "q_vocab_drift" -> (Queries.vocabDriftQ _),
    "q_knn_impute" -> (Queries.knnImputeQ _),
    "q_we_rules" -> (Queries.weRulesQ _),
    "q_simpson" -> (Queries.simpsonQ _),
    "q_mmd" -> (Queries.mmdQ _),
    "q_trend_test" -> (Queries.trendTestQ _),
    "q_moran" -> (Queries.moranQ _),
    "q_rmst" -> (Queries.rmstQ _),
    "q_post_strat" -> (Queries.postStratQ _),
    "q_jackknife_ratio" -> (Queries.jackknifeRatioQ _),
    "q_psi" -> (Queries.psiQ _),
    "q_mutual_info" -> (Queries.mutualInfoQ _),
    "q_drawdown" -> (Queries.drawdownQ _),
    "q_nelson_aalen" -> (Queries.nelsonAalenQ _),
    "q_competing_risks" -> (Queries.competingRisksQ _),
    "q_hill" -> (Queries.hillQ _),
    "q_price_index" -> (Queries.priceIndexQ _),
    "q_elasticity" -> (Queries.elasticityQ _),
    "q_theil" -> (Queries.theilQ _),
    "q_periodogram" -> (Queries.periodogramQ _),
    "q_yule_walker" -> (Queries.yuleWalkerQ _),
    "q_sprt" -> (Queries.sprtQ _),
    "q_yule_k" -> (Queries.yuleKQ _),
    "q_heaps" -> (Queries.heapsQ _),
    "q_dp_histogram" -> (Queries.dpHistogramQ _),
    "q_aipw" -> (Queries.aipwQ _),
    "q_matching_att" -> (Queries.matchingAttQ _),
    "q_ransac" -> (Queries.ransacQ _),
    "q_als_rank1" -> (Queries.alsRank1Q _),
    "q_fd_check" -> (Queries.fdCheckQ _),
    "q_abc_analysis" -> (Queries.abcAnalysisQ _),
    "q_wasserstein" -> (Queries.wassersteinQ _),
    "q_tracking_signal" -> (Queries.trackingSignalQ _),
    "q_cointegration" -> (Queries.cointegrationQ _),
    "q_random_projection" -> (Queries.randomProjectionQ _),
    "q_position_bias" -> (Queries.positionBiasQ _),
    "q_feature_hashing" -> (Queries.featureHashingQ _),
    "q_negbin" -> (Queries.negbinQ _),
    "q_bradley_terry" -> (Queries.bradleyTerryQ _),
    "q_greenwood" -> (Queries.greenwoodQ _),
    "q_quantile_norm" -> (Queries.quantileNormQ _),
    "q_turf" -> (Queries.turfQ _),
    "q_mahalanobis" -> (Queries.mahalanobisQ _),
    "q_boruvka" -> (Queries.boruvkaQ _),
    "q_mis" -> (Queries.misQ _),
    "q_decontaminate_embed" -> (Queries.decontaminateEmbedQ _),
    "q_lcs_sim" -> (Queries.lcsSimQ _),
    "q_icc" -> (Queries.iccQ _),
    "q_gumbel" -> (Queries.gumbelQ _),
    "q_adstock" -> (Queries.adstockQ _),
    "q_kendall_w" -> (Queries.kendallWQ _),
    "q_krippendorff" -> (Queries.krippendorffQ _),
    "q_binomial_test" -> (Queries.binomialTestQ _),
    "q_spectral_entropy" -> (Queries.spectralEntropyQ _),
    "q_rouge_l" -> (Queries.rougeLQ _),
    "q_lsh_scurve" -> (Queries.lshScurveQ _),
    "q_consistent_hashing" -> (Queries.consistentHashQ _),
    "q_prefix_cache" -> (Queries.prefixCacheQ _),
    "q_cheb_bound" -> (Queries.chebBoundQ _),
    "q_birthday_collision" -> (Queries.birthdayCollisionQ _),
    "q_page_trend" -> (Queries.pageTrendQ _),
    "q_cox" -> (Queries.coxQ _),
    "q_dedup_survivorship" -> (Queries.dedupSurvivorshipQ _),
    "q_switchback" -> (Queries.switchbackQ _),
    "q_context_fit" -> (Queries.contextFitQ _),
    "q_pack_ffd" -> (Queries.packFfdQ _),
    "q_pack_bestfit" -> (Queries.packBestFitQ _),
    "q_train_order" -> (Queries.trainOrderQ _),
    "q_train_manifest" -> (Queries.trainManifestQ _),
    "q_doremi_weights" -> (Queries.doremiWeightsQ _),
    "q_novelty_curve" -> (Queries.noveltyCurveQ _),
    "q_neyman_alloc" -> (Queries.neymanAllocQ _),
    "q_gopher_rules" -> (Queries.gopherRulesQ _),
    "q_pps_sample" -> (Queries.ppsSampleQ _),
    "q_data_map" -> (Queries.dataMapQ _),
    "q_bpe_compression" -> (Queries.bpeCompressionQ _),
    "q_shuffle_runs" -> (Queries.shuffleRunsQ _),
    "q_effective_epochs" -> (Queries.effectiveEpochsQ _),
    "q_source_overlap" -> (Queries.sourceOverlapQ _),
    "q_quality_frontier" -> (Queries.qualityFrontierQ _),
    "q_source_repetition" -> (Queries.sourceRepetitionQ _),
    "q_surprisal_curve" -> (Queries.surprisalCurveQ _),
    "q_nucleus_vocab" -> (Queries.nucleusVocabQ _),
    "q_token_gini" -> (Queries.tokenGiniQ _),
    "q_grad_noise" -> (Queries.gradNoiseQ _),
    "q_max_coverage" -> (Queries.maxCoverageQ _),
    "q_embed_dispersion" -> (Queries.embedDispersionQ _),
    "q_ccnet_buckets" -> (Queries.ccnetBucketsQ _),
    "q_grad_clip" -> (Queries.gradClipQ _),
    "q_label_noise" -> (Queries.labelNoiseQ _),
    "q_filter_attribution" -> (Queries.filterAttributionQ _),
    "q_compute_plan" -> (Queries.computePlanQ _),
    "q_grad_align" -> (Queries.gradAlignQ _),
    "q_margin_sample" -> (Queries.marginSampleQ _),
    "q_rho_selection" -> (Queries.rhoSelectionQ _),
    "q_bpe_curve" -> (Queries.bpeCurveQ _),
    "q_source_kl" -> (Queries.sourceKlQ _),
    "q_densest" -> (Queries.densestQ _),
    "q_coreness" -> (Queries.corenessQ _),
    "q_cascade" -> (Queries.cascadeQ _),
    "q_dup_scaling" -> (Queries.dupScalingQ _),
    "q_hoeffding_bound" -> (Queries.hoeffdingBoundQ _),
    "q_index_size" -> (Queries.indexSizeQ _),
    "q_meta_analysis" -> (Queries.metaAnalysisQ _),
    "q_markov_absorption" -> (Queries.markovAbsorptionQ _),
    "q_propensity_overlap" -> (Queries.propensityOverlapQ _),
    "q_bartlett" -> (Queries.bartlettQ _),
    "q_turning_points" -> (Queries.turningPointsQ _),
    "q_source_loo" -> (Queries.sourceLooQ _),
    "q_event_study" -> (Queries.eventStudyQ _),
    "q_fisher_exact" -> (Queries.fisherExactQ _),
    "q_fano" -> (Queries.fanoQ _),
    "q_entropy_rate" -> (Queries.entropyRateQ _),
    "q_seg_regression" -> (Queries.segRegressionQ _),
    "q_chi2_residuals" -> (Queries.chi2ResidualsQ _),
    "q_content_halflife" -> (Queries.contentHalflifeQ _),
    "q_safety_stock" -> (Queries.safetyStockQ _),
    "q_balance_smd" -> (Queries.balanceSmdQ _),
    "q_geomedian" -> (Queries.geomedianQ _),
    "q_pr_auc" -> (Queries.prAucQ _),
    "q_decision_curve" -> (Queries.decisionCurveQ _),
    "q_hosmer_lemeshow" -> (Queries.hosmerLemeshowQ _),
    "q_copeland" -> (Queries.copelandQ _),
    "q_vif" -> (Queries.vifQ _),
    "q_weibull" -> (Queries.weibullQ _),
  )

  /** Shared oracle fragment: the parsed-and-filtered log view, computed
    * directly from `events` (mirrors graft.logs.LogGen's deterministic
    * mapping — this is what independently checks the regex parser).
    */
  private val logsCte: String =
    """WITH logs AS (
      |  SELECT
      |    concat('10.', user_id % 250, '.', (user_id * 7) % 250, '.', 1 + (user_id * 13) % 250) AS client_ip,
      |    CASE WHEN event_type = 'click' THEN 1 + event_id % 15 ELSE 0 END AS section_id,
      |    CASE WHEN event_type IN ('view', 'purchase') THEN 1 + event_id % 40 ELSE 0 END AS article_id
      |  FROM events
      |  WHERE event_id % 97 <> 0 AND event_id % 89 <> 0
      |    AND event_id % 10 <> 0 AND event_id % 7 <> 3
      |)""".stripMargin

  // ---- DuckDB fragments generated from the SAME Scala constants the
  // Spark operators use (graft.ops.TextOps / Dedup), so the two sides
  // cannot drift.

  /** DuckDB inlines plain CTEs at EVERY reference, so a deep chain
    * whose CTEs are each read 2-3 times downstream re-executes whole
    * prefixes exponentially often (q_curation_spancov measured 130×
    * slower un-materialized; the r12 oracle-latency audit's top-8).
    * Applied to an assembled oracle, this pins every `name AS (SELECT`
    * CTE as MATERIALIZED — `WINDOW w AS (PARTITION …` clauses don't
    * match the pattern and stay untouched. Values are identical;
    * only the replay's execution strategy changes.
    */
  private def mat(sql: String, name: String): String = {
    // whitespace-tolerant CTE-head match (a reformat like a newline
    // after "AS (" must not silently drop materialization — r12 ADVICE
    // item), and the rewrite is REQUIRED to fire at least once
    val head = "AS\\s*\\(\\s*SELECT\\b".r
    val out = head.replaceAllIn(sql, "AS MATERIALIZED (SELECT")
    require(out != sql,
      s"mat($name): no 'AS (SELECT' CTE head matched — the MatOracles " +
        "materialization would silently not fire and the measured 60s+ " +
        "DuckDB replay blowup would return unnoticed")
    out
  }

  /** The ROUGE-L per-row MATERIALIZED-CTE device, generalized to any
    * unrolled n×m DP lattice: re-emits the SAME flat d_i_j cell list
    * the Spark side unrolls (no drift — one generator feeds both) as
    * one MATERIALIZED CTE per DP row. A single-select lateral-alias
    * form inlines each cell's up-to-3 predecessors recursively (3^k
    * planning blowup — q_dtw/q_needleman/q_lcs_sim measured 15-38 s at
    * sf0.01); the row chain keeps up/diag as table columns so only the
    * linear in-row left chain inlines. Alternating ca/cb column
    * prefixes dodge DuckDB's table-column-over-lateral-alias
    * shadowing. Final cell of row n is `ca${m}` when n is odd,
    * `cb${m}` otherwise.
    */
  private def dpRowCtes(cells: Seq[(String, String)], n: Int, m: Int,
      carry: String, src: String, p: String): String =
    (1 to n).map { i =>
      val cur = if (i % 2 == 1) "ca" else "cb"
      val prev = if (i % 2 == 1) "cb" else "ca"
      val body = cells.filter(_._1.startsWith(s"d_${i}_")).map { case (name, e) =>
        val j = name.substring(name.lastIndexOf('_') + 1)
        var x = e
        for (jj <- 1 to m) {
          x = x.replace(s"d_${i - 1}_$jj", s"$prev$jj")
          x = x.replace(s"d_${i}_$jj", s"$cur$jj")
        }
        s"$x AS $cur$j"
      }.mkString(", ")
      s"$p$i AS MATERIALIZED (SELECT $carry, $body FROM ${if (i == 1) src else s"$p${i - 1}"})"
    }.mkString(",\n")

  /** Portable 64-bit hash: fold the first 12 hex chars of md5. */
  private def hSql(x: String): String =
    s"list_reduce(list_transform(range(12), i -> CAST(strpos('0123456789abcdef', substr(md5($x), i + 1, 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"

  /** Shared epoch-order replay (ops.TrainOrder.epochOrder with
    * epochs=2, nShards=8, salt="to"): CASE mixture weights, hash
    * Bernoulli on the fractional ppm, bounded replica unnest, salted
    * order key, shard = okey mod 8, in-shard row_number. Feeds both
    * the q_train_order dump and the q_train_manifest aggregates.
    */
  private def trainOrderCtes: String =
    s"""WITH d AS (SELECT doc_id, source, CAST(len(regexp_extract_all(
      |    text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |eg AS (SELECT CAST(unnest([0, 1]) AS BIGINT) AS epoch),
      |w AS (SELECT doc_id, source, n_tokens, epoch,
      |    CASE WHEN source = 'src0' THEN 2000000
      |         WHEN source = 'src1' THEN 1500000
      |         WHEN source = 'src2' THEN 250000
      |         ELSE 1000000 END AS w_ppm
      |  FROM d CROSS JOIN eg),
      |c AS (SELECT doc_id, source, n_tokens, epoch,
      |    w_ppm // 1000000 + (CASE WHEN
      |      ${hSql("concat('to:mix:', CAST(epoch AS VARCHAR), ':', CAST(doc_id AS VARCHAR))")}
      |      % 1000000 < w_ppm % 1000000 THEN 1 ELSE 0 END) AS n_copies
      |  FROM w),
      |r AS (SELECT doc_id, source, n_tokens, epoch,
      |    CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS rep
      |  FROM c WHERE n_copies >= 1),
      |k AS (SELECT *,
      |    ${hSql("concat('to:ord:', CAST(epoch AS VARCHAR), ':', CAST(doc_id AS VARCHAR), ':', CAST(rep AS VARCHAR))")}
      |    AS okey FROM r),
      |s AS (SELECT *, okey % 8 AS shard FROM k),
      |p AS (SELECT epoch, shard,
      |    CAST(row_number() OVER (PARTITION BY epoch, shard
      |      ORDER BY okey, doc_id, rep) AS BIGINT) AS pos,
      |    doc_id, rep, source, n_tokens, okey FROM s)""".stripMargin

  private def wordsSql(t: String): String =
    s"string_split_regex(trim($t), '\\s+')"

  /** 20-token block segmentation CTE chain over relation `base`
    * (doc_id, text): defines `${p}seg` = (doc_id, seg_idx, seg, h) —
    * the Dedup.segmentsByBlock contract, hashed. Shared by the
    * whole-corpus and incremental paragraph-dedup oracles.
    */
  private def segBlockCtes(p: String, base: String): String =
    s"""${p}t AS (SELECT doc_id, ${wordsSql("lower(text)")} AS w FROM $base),
       |${p}s AS (SELECT doc_id, CAST(start // 20 AS BIGINT) AS seg_idx,
       |    array_to_string(list_slice(w, start + 1, least(start + 20, len(w))), ' ') AS seg
       |  FROM (SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, 20)) AS start
       |        FROM ${p}t WHERE len(w) > 0) z),
       |${p}seg AS (SELECT doc_id, seg_idx, seg, ${hSql("seg")} AS h FROM ${p}s)""".stripMargin

  /** Distinct word-3-gram shingles of the lowered text (column `w`). */
  private val shinglesSql: String =
    "CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) ELSE CAST([] AS VARCHAR[]) END"

  /** Hashed distinct shingles — what graft's native ShingleHashes emits. */
  private val hashedShinglesSql: String =
    s"list_transform($shinglesSql, g -> ${hSql("g")})"

  /** Winnowing fingerprint CTE chain (k=3, w=4 — the Dedup
    * .winnowFingerprints contract) over relation `base` (doc_id, text):
    * defines `${p}fps` = DISTINCT (doc_id, fp). Same all-integer
    * pipeline as the q_winnow oracle, parameterized so composed oracles
    * (curation span stage) replay it over intermediate CTEs.
    */
  private def winnowFpsCtes(p: String, base: String): String =
    s"""${p}toks AS (SELECT doc_id, pos, ws[pos+1] AS tok, len(ws) AS ng FROM (
       |    SELECT doc_id, ${wordsSql("lower(text)")} AS ws FROM $base) s,
       |    LATERAL (SELECT unnest(range(len(ws))) AS pos) p),
       |${p}grams AS (SELECT doc_id, pos,
       |    tok || ' ' || lead(tok,1) OVER wo || ' ' || lead(tok,2) OVER wo AS gram, ng
       |  FROM ${p}toks WINDOW wo AS (PARTITION BY doc_id ORDER BY pos)),
       |${p}full AS (SELECT doc_id, pos, ${hSql("gram")} AS h FROM ${p}grams WHERE pos <= ng - 3),
       |${p}fps AS (SELECT DISTINCT doc_id, fp FROM (
       |    SELECT doc_id, min(h) OVER ww AS fp, count(*) OVER ww AS nfull
       |    FROM ${p}full WINDOW ww AS (PARTITION BY doc_id ORDER BY pos
       |                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
       |  WHERE nfull = 4)""".stripMargin

  /** Duplicate-substring CTE chain (k=8 — the Dedup.duplicateSpans
    * contract) over the q_dedup_spans input (docs < 300 + spliced
    * plants at id+60000): defines `xbase`, `xtoks`, `xh` (full-8-gram
    * hashes with the packed first-occurrence key doc_id·1e6 + pos) and
    * `xfirst` (h → min key).
    */
  /** Position-indexed full-8-gram hash CTE chain over relation `base`
    * (doc_id, text): defines `${p}toks`, `${p}grams`, `${p}h`
    * (doc_id, pos, h, key — the packed doc_id·1e6 + pos
    * first-occurrence key). The Dedup.gramHashes contract.
    */
  private def gram8Ctes(p: String, base: String): String =
    s"""${p}toks AS (SELECT doc_id, pos, ws[pos+1] AS tok, len(ws) AS ng FROM (
       |    SELECT doc_id, ${wordsSql("lower(text)")} AS ws FROM $base) s,
       |    LATERAL (SELECT unnest(range(len(ws))) AS pos) p),
       |${p}grams AS (SELECT doc_id, pos,
       |    tok || ' ' || lead(tok,1) OVER wo || ' ' || lead(tok,2) OVER wo || ' ' ||
       |      lead(tok,3) OVER wo || ' ' || lead(tok,4) OVER wo || ' ' ||
       |      lead(tok,5) OVER wo || ' ' || lead(tok,6) OVER wo || ' ' ||
       |      lead(tok,7) OVER wo AS gram, ng
       |  FROM ${p}toks WINDOW wo AS (PARTITION BY doc_id ORDER BY pos)),
       |${p}h AS (SELECT doc_id, pos, ${hSql("gram")} AS h,
       |    doc_id * 1000000 + pos AS key FROM ${p}grams WHERE pos <= ng - 8)""".stripMargin

  /** The pc0 body alone (hashed counts over a given documents-shaped
    * relation) — shared by [[pcptCtes]] and the CV fold chains.
    */
  private def pcptCounts(docsRel: String): String =
    s"""  SELECT doc_id, y, bucket, count(*) AS n FROM (
       |    SELECT doc_id, CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
       |      ${hSql("'pcpt:' || tok")} % 64 AS bucket FROM (
       |      SELECT doc_id, lang, unnest(${wordsSql("lower(text)")}) AS tok FROM $docsRel) u
       |    WHERE length(tok) >= 2) b
       |  GROUP BY doc_id, y, bucket""".stripMargin

  /** The 3-pass perceptron training chain over a counts relation
    * `src` (pc0-shaped), every CTE name prefixed with `p` — defines
    * ${p}pd, ${p}w1/b1 … ${p}w3/b3. With an empty prefix this is the
    * historical pcptCtes tail, byte-compatible for consumers that
    * reference pc0/w3/b3.
    */
  private def pcptChain(p: String, src: String): String =
    s"""${p}pd AS (SELECT DISTINCT doc_id, y FROM $src),
       |${p}w1 AS (SELECT bucket, CAST(sum(y * n) AS BIGINT) AS w FROM $src GROUP BY bucket),
       |${p}b1 AS (SELECT CAST(sum(y) AS BIGINT) AS b FROM ${p}pd),
       |${p}s2 AS (SELECT c.doc_id, c.y,
       |    CAST(sum(c.n * coalesce(a.w, 0)) AS BIGINT) + (SELECT b FROM ${p}b1) AS s
       |  FROM $src c LEFT JOIN ${p}w1 a USING (bucket) GROUP BY c.doc_id, c.y),
       |${p}m2 AS (SELECT doc_id, y FROM ${p}s2 WHERE y * s <= 0),
       |${p}g2 AS (SELECT c.bucket, CAST(sum(c.y * c.n) AS BIGINT) AS g
       |  FROM $src c JOIN ${p}m2 USING (doc_id) GROUP BY c.bucket),
       |${p}w2 AS (SELECT coalesce(a.bucket, g.bucket) AS bucket,
       |    coalesce(a.w, 0) + coalesce(g.g, 0) AS w
       |  FROM ${p}w1 a FULL JOIN ${p}g2 g ON a.bucket = g.bucket),
       |${p}b2 AS (SELECT (SELECT b FROM ${p}b1)
       |    + coalesce((SELECT CAST(sum(y) AS BIGINT) FROM ${p}m2), 0) AS b),
       |${p}s3 AS (SELECT c.doc_id, c.y,
       |    CAST(sum(c.n * coalesce(a.w, 0)) AS BIGINT) + (SELECT b FROM ${p}b2) AS s
       |  FROM $src c LEFT JOIN ${p}w2 a USING (bucket) GROUP BY c.doc_id, c.y),
       |${p}m3 AS (SELECT doc_id, y FROM ${p}s3 WHERE y * s <= 0),
       |${p}g3 AS (SELECT c.bucket, CAST(sum(c.y * c.n) AS BIGINT) AS g
       |  FROM $src c JOIN ${p}m3 USING (doc_id) GROUP BY c.bucket),
       |${p}w3 AS (SELECT coalesce(a.bucket, g.bucket) AS bucket,
       |    coalesce(a.w, 0) + coalesce(g.g, 0) AS w
       |  FROM ${p}w2 a FULL JOIN ${p}g3 g ON a.bucket = g.bucket),
       |${p}b3 AS (SELECT (SELECT b FROM ${p}b2)
       |    + coalesce((SELECT CAST(sum(y) AS BIGINT) FROM ${p}m3), 0) AS b)""".stripMargin

  /** Perceptron training CTE chain (3 unrolled passes over 64 hashed
    * buckets, y = ±1 on lang='en' — the Classify.perceptronTrain
    * contract): defines pc0 (hashed counts), pd, and per-pass
    * w1/b1 … w3/b3.
    */
  private def pcptCtes: String =
    s"""pc0 AS (
       |${pcptCounts("documents")}),
       |${pcptChain("", "pc0")}""".stripMargin

  /** One-vs-rest perceptron training CTE chain (2 unrolled passes ×
    * one binary model per label over 64 'povr:'-salted buckets, Collins
    * averaged — the Classify.perceptronTrainOvr contract): defines the
    * shared hashed-count table povr0 / doc list povrd, and per label l
    * the pass tables p${l}_w1/b1/w2/b2, averaged p${l}_wS/bS, and final
    * scores p${l}_fs. Pure integer sums throughout — training replays.
    */
  private def povrCtes(labels: Seq[String]): String = {
    def yOf(l: String, t: String) =
      s"CASE WHEN ${t}lang = '$l' THEN 1 ELSE -1 END"
    val shared =
      s"""povr0 AS (
         |  SELECT doc_id, lang, bucket, count(*) AS n FROM (
         |    SELECT doc_id, lang, ${hSql("'povr:' || tok")} % 64 AS bucket FROM (
         |      SELECT doc_id, lang, unnest(${wordsSql("lower(text)")}) AS tok FROM documents) u
         |    WHERE length(tok) >= 2) b
         |  GROUP BY doc_id, lang, bucket),
         |povrd AS (SELECT DISTINCT doc_id, lang FROM povr0)""".stripMargin
    val perLabel = labels.map { l =>
      val p = s"p${l}_"
      s"""${p}w1 AS (SELECT bucket, CAST(sum((${yOf(l, "")}) * n) AS BIGINT) AS w
         |  FROM povr0 GROUP BY bucket),
         |${p}b1 AS (SELECT CAST(sum(${yOf(l, "")}) AS BIGINT) AS b FROM povrd),
         |${p}s2 AS (SELECT c.doc_id, ${yOf(l, "c.")} AS y,
         |    CAST(sum(c.n * coalesce(w1.w, 0)) AS BIGINT) + (SELECT b FROM ${p}b1) AS s
         |  FROM povr0 c LEFT JOIN ${p}w1 w1 USING (bucket) GROUP BY c.doc_id, c.lang),
         |${p}m2 AS (SELECT doc_id, y FROM ${p}s2 WHERE y * s <= 0),
         |${p}g2 AS (SELECT c.bucket, CAST(sum((${yOf(l, "c.")}) * c.n) AS BIGINT) AS g
         |  FROM povr0 c JOIN ${p}m2 USING (doc_id) GROUP BY c.bucket),
         |${p}w2 AS (SELECT coalesce(w1.bucket, g2.bucket) AS bucket,
         |    coalesce(w1.w, 0) + coalesce(g2.g, 0) AS w
         |  FROM ${p}w1 w1 FULL JOIN ${p}g2 g2 ON w1.bucket = g2.bucket),
         |${p}b2 AS (SELECT (SELECT b FROM ${p}b1)
         |    + coalesce((SELECT CAST(sum(y) AS BIGINT) FROM ${p}m2), 0) AS b),
         |${p}wS AS (SELECT bucket, CAST(sum(w) AS BIGINT) AS w FROM (
         |    SELECT * FROM ${p}w1 UNION ALL SELECT * FROM ${p}w2) u GROUP BY bucket),
         |${p}bS AS (SELECT (SELECT b FROM ${p}b1) + (SELECT b FROM ${p}b2) AS b),
         |${p}fs AS (SELECT c.doc_id,
         |    CAST(sum(c.n * coalesce(w.w, 0)) AS BIGINT) + (SELECT b FROM ${p}bS) AS score
         |  FROM povr0 c LEFT JOIN ${p}wS w USING (bucket) GROUP BY c.doc_id)""".stripMargin
    }
    (shared +: perLabel).mkString(",\n")
  }

  private def dupSpanCtes: String =
    s"""xbase AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 300
       |  UNION ALL
       |  SELECT a.doc_id + 60000,
       |    array_to_string(string_split_regex(trim(lower(a.text)), '\\s+')[11:40], ' ') || ' ' || b.text AS text
       |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 3
       |  WHERE a.doc_id % 11 = 0 AND a.doc_id < 300 AND b.doc_id < 300
       |    AND len(string_split_regex(trim(lower(a.text)), '\\s+')) >= 40),
       |${gram8Ctes("x", "xbase")},
       |xfirst AS (SELECT h, min(key) AS first_key FROM xh GROUP BY h)""".stripMargin

  /** Stupid-Backoff bigram LM CTE chain (the graft.ops.LanguageModel
    * contract): trains on `trainBase`(doc_id, text), scores
    * `scoreBase`(doc_id, text); defines `${p}scores`(doc_id, n_bigrams,
    * score_micro, keep) under the given per-bigram micro threshold.
    * Hashed-token models, one micro6'd ln per model row, exact-integer
    * doc sums — docs with < 2 tokens are structurally absent.
    */
  private def lmCtes(p: String, trainBase: String, scoreBase: String,
      thrMicro: Long): String =
    s"""${p}ttoks AS (
       |  SELECT doc_id, pos, ${hSql("'lm:' || ws[pos+1]")} AS h FROM (
       |    SELECT doc_id, ${wordsSql("lower(text)")} AS ws FROM $trainBase) s,
       |    LATERAL (SELECT unnest(range(len(ws))) AS pos) p),
       |${p}tu AS (SELECT h, count(*) AS c1 FROM ${p}ttoks GROUP BY h),
       |${p}tot0 AS (SELECT CAST(sum(c1) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM ${p}tu),
       |${p}tot AS (SELECT n, v,
       |    CAST(floor(ln(1.0 / CAST(n + v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS s_def
       |  FROM ${p}tot0),
       |${p}uni AS (SELECT h,
       |    CAST(floor(ln(CAST(c1 + 1 AS DOUBLE) / CAST(n + v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS s_uni
       |  FROM ${p}tu CROSS JOIN ${p}tot),
       |${p}tp AS (SELECT h AS h1, lead(h, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS h2 FROM ${p}ttoks),
       |${p}bc AS (SELECT h1, h2, count(*) AS c2 FROM ${p}tp WHERE h2 IS NOT NULL GROUP BY h1, h2),
       |${p}bi AS (SELECT h1, h2,
       |    CAST(floor(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS s_bi
       |  FROM ${p}bc JOIN ${p}tu ON ${p}bc.h1 = ${p}tu.h),
       |${p}stoks AS (
       |  SELECT doc_id, pos, ${hSql("'lm:' || ws[pos+1]")} AS h FROM (
       |    SELECT doc_id, ${wordsSql("lower(text)")} AS ws FROM $scoreBase) s,
       |    LATERAL (SELECT unnest(range(len(ws))) AS pos) p),
       |${p}sp AS (SELECT doc_id, pos, h AS h1,
       |    lead(h, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS h2 FROM ${p}stoks),
       |${p}sc AS (SELECT doc_id, ${p}sp.pos AS pos,
       |    coalesce(s_bi,
       |      CAST(floor(ln(0.4) * 1000000.0 + 0.5) AS BIGINT)
       |        + coalesce(s_uni, s_def)) AS s
       |  FROM ${p}sp CROSS JOIN ${p}tot LEFT JOIN ${p}bi USING (h1, h2)
       |  LEFT JOIN ${p}uni ON ${p}sp.h2 = ${p}uni.h
       |  WHERE ${p}sp.h2 IS NOT NULL),
       |${p}scores AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(s) AS BIGINT) AS score_micro,
       |    (CAST(sum(s) AS BIGINT) >= $thrMicro * CAST(count(*) AS BIGINT)) AS keep
       |  FROM ${p}sc GROUP BY doc_id)""".stripMargin

  /** One BPE merge iteration as a CTE block (the graft.ops.Bpe
    * contract): pair counts weighted by word frequency, lexicographic
    * argmax, left-to-right non-overlap apply via run parity. `bseq0`
    * must exist; defines `bbest$i` and `bseq$i`.
    */
  private def bpeIterCtes(i: Int): String = {
    val prev = s"bseq${i - 1}"
    s"""bpc$i AS (SELECT s AS l, r, CAST(sum(freq) AS BIGINT) AS c FROM (
       |    SELECT word, freq, pos, s, lead(s) OVER (PARTITION BY word ORDER BY pos) AS r FROM $prev)
       |  WHERE r IS NOT NULL GROUP BY s, r),
       |bbest$i AS (SELECT l, r, c FROM bpc$i ORDER BY c DESC, l, r LIMIT 1),
       |bm$i AS (SELECT word, freq, pos, s, l, r,
       |    (s = l AND lead(s) OVER w = r) AS m
       |  FROM $prev CROSS JOIN bbest$i WINDOW w AS (PARTITION BY word ORDER BY pos)),
       |br$i AS (SELECT *, CASE WHEN m THEN pos
       |    - row_number() OVER (PARTITION BY word, m ORDER BY pos) END AS grp FROM bm$i),
       |ba$i AS (SELECT *, (m AND row_number() OVER (PARTITION BY word, grp ORDER BY pos) % 2 = 1) AS ap
       |  FROM br$i),
       |bseq$i AS (SELECT word, freq,
       |    row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
       |    CASE WHEN ap THEN l || r ELSE s END AS s
       |  FROM (SELECT *, lag(ap) OVER (PARTITION BY word ORDER BY pos) AS prev_ap FROM ba$i)
       |  WHERE NOT coalesce(prev_ap, FALSE))""".stripMargin
  }

  /** Per-user survival CTEs over `events`: `u` = (user_id, first day
    * f, last day l), `md` = the last observed day (users whose last day
    * is within 2 of it are censored).
    */
  private def survivalUsersCtes: String =
    """u AS (
      |  SELECT user_id,
      |    min(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS f,
      |    max(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS l
      |  FROM events GROUP BY user_id),
      |md AS (SELECT max(l) AS maxd FROM u)""".stripMargin

  /** [[survivalUsersCtes]] plus the duration support the Kaplan-Meier
    * family folds over: `byt` = (t, churned dd, censored cc), `d2` =
    * byt numbered by t (rn), `tot` = the user total.
    */
  private def survivalTimesCtes: String =
    s"""$survivalUsersCtes,
       |byt AS (SELECT l - f AS t,
       |    CAST(sum(CASE WHEN l >= maxd - 2 THEN 0 ELSE 1 END) AS BIGINT) AS dd,
       |    CAST(sum(CASE WHEN l >= maxd - 2 THEN 1 ELSE 0 END) AS BIGINT) AS cc
       |  FROM u, md GROUP BY 1),
       |d2 AS (SELECT t, dd, cc, row_number() OVER (ORDER BY t) AS rn FROM byt),
       |tot AS (SELECT CAST(sum(dd + cc) AS BIGINT) AS total FROM byt)""".stripMargin

  /** Undirected co-purchase part graph over `lineitem`: `bp` = each
    * line's part paired with the next line's part in the same order,
    * `be` = distinct directed non-loop edges, `bu` = both directions.
    */
  private def partEdgeCtes: String =
    """bp AS (SELECT l_partkey AS src,
      |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
      |  FROM lineitem),
      |be AS (SELECT DISTINCT src, dst FROM bp WHERE dst IS NOT NULL AND src <> dst),
      |bu AS MATERIALIZED (SELECT DISTINCT src, dst FROM
      |  (SELECT src, dst FROM be UNION ALL SELECT dst, src FROM be) t)""".stripMargin

  /** `rounds` unrolled multi-source BFS relaxations over [[partEdgeCtes]]'
    * `bu`: `${p}i` = min hop distance (root, node, d) after i rounds,
    * read from `${p}0`.
    */
  private def rootedBfsCtes(p: String, rounds: Int): String =
    (1 to rounds).map { i =>
      s"""$p$i AS MATERIALIZED (SELECT root, node, min(d) AS d FROM (
         |  SELECT root, node, d FROM $p${i - 1}
         |  UNION ALL
         |  SELECT p.root, e.dst, p.d + 1 FROM bu e JOIN $p${i - 1} p ON e.src = p.node) t
         |  GROUP BY root, node)""".stripMargin
    }.mkString(",\n")

  /** The 8-round BFS from the 10 lowest part ids (`hd8`), with the
    * `fixguard` flag that is 1 when round 8 added nothing — the
    * harmonic-centrality and betweenness oracles error out otherwise.
    */
  private def partRootBfsCtes: String =
    s"""roots AS (SELECT DISTINCT src AS node FROM bu ORDER BY node LIMIT 10),
       |hd0 AS (SELECT node AS root, node, CAST(0 AS BIGINT) AS d FROM roots),
       |${rootedBfsCtes("hd", 8)},
       |fixguard AS (SELECT CASE WHEN (SELECT count(*) FROM hd8)
       |    = (SELECT count(*) FROM hd7) THEN 1 ELSE 0 END AS at_fixpoint)""".stripMargin

  /** Per-event-type 200-replicate permutation test of the odd-vs-even
    * user difference in mean spend (cents): `obs` = observed |diff| at
    * e3 per event type, `d` = each hash-relabelled replicate's |diff|,
    * `p` = (event_type, obs_e3, n_ge replicates at least as extreme).
    * Shared by the FDR, Holm and Benjamini-Yekutieli oracles.
    */
  private def eventPermCtes: String =
    s"""u AS (SELECT event_type, user_id,
       |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cts
       |  FROM events GROUP BY 1, 2),
       |o1 AS (SELECT event_type,
       |    sum(CASE WHEN user_id % 2 = 0 THEN CAST(cts AS HUGEINT) END) AS sA,
       |    sum(CASE WHEN user_id % 2 = 1 THEN CAST(cts AS HUGEINT) END) AS sB,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS nA,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS nB
       |  FROM u GROUP BY event_type),
       |obs AS (SELECT event_type,
       |    abs(1000 * (sA * nB - sB * nA) // (nA * nB)) AS obs_e3 FROM o1),
       |spine AS (SELECT unnest(range(1, 201)) AS r),
       |pg AS (SELECT event_type, r, ${hSql("user_id || ':' || r")} % 2 AS g, cts
       |  FROM u CROSS JOIN spine),
       |ps AS (SELECT event_type, r,
       |    sum(CASE WHEN g = 0 THEN CAST(cts AS HUGEINT) END) AS sA,
       |    sum(CASE WHEN g = 1 THEN CAST(cts AS HUGEINT) END) AS sB,
       |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS nA,
       |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS nB
       |  FROM pg GROUP BY event_type, r),
       |d AS (SELECT event_type, r,
       |    abs(1000 * (sA * nB - sB * nA) // (nA * nB)) AS d_e3 FROM ps),
       |p AS (SELECT d.event_type, obs.obs_e3,
       |    CAST(sum(CASE WHEN d_e3 >= obs_e3 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge
       |  FROM d JOIN obs ON d.event_type = obs.event_type
       |  GROUP BY d.event_type, obs.obs_e3)""".stripMargin

  /** Sequence-packing replay: tokens per doc, oversize (> 2048) docs
    * counted aside, the rest salted into 32 buckets and folded per
    * bucket in FFD order (length desc, doc_id) by a recursive CTE.
    * `placement` is the `idx` column: the 1-based bin the next doc goes
    * into, NULL to open a new bin. q_pack_ffd and q_pack_bestfit differ
    * only there.
    */
  private def packSql(placement: String): String =
    s"""WITH RECURSIVE d AS (SELECT doc_id, CAST(len(regexp_extract_all(
       |    text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n
       |  FROM documents),
       |sized AS (SELECT CAST(sum(CASE WHEN n > 2048 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_oversize FROM d),
       |b AS (SELECT doc_id, n,
       |    ${hSql("concat('pack:', CAST(doc_id AS VARCHAR))")} % 32 AS bucket
       |  FROM d WHERE n <= 2048),
       |ord AS (SELECT bucket, n, row_number() OVER (PARTITION BY bucket
       |    ORDER BY n DESC, doc_id) AS rn FROM b),
       |sz AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(n) AS BIGINT) AS toks FROM ord GROUP BY 1),
       |pack AS (
       |  SELECT bucket, CAST(0 AS BIGINT) AS step,
       |    CAST([] AS BIGINT[]) AS bins FROM sz
       |  UNION ALL
       |  SELECT bucket, step,
       |    CASE WHEN idx IS NULL THEN list_append(bins, n)
       |      ELSE list_transform(range(1, 1 + len(bins)),
       |        i -> CASE WHEN i = idx THEN bins[i] + n ELSE bins[i] END)
       |    END AS bins
       |  FROM (SELECT p.bucket, p.step + 1 AS step, p.bins, o.n,
       |      $placement
       |    FROM pack p JOIN ord o
       |      ON o.bucket = p.bucket AND o.rn = p.step + 1) s),
       |fin AS (SELECT p.bucket, CAST(len(p.bins) AS BIGINT) AS nb,
       |    sz.cnt, sz.toks
       |  FROM pack p JOIN sz ON p.bucket = sz.bucket AND p.step = sz.cnt)
       |SELECT CAST(sum(cnt) AS BIGINT) AS n_docs_packed, n_oversize,
       |  CAST(sum(toks) AS BIGINT) AS total_tokens,
       |  CAST(sum(nb) AS BIGINT) AS n_windows,
       |  CAST(sum(toks) * 1000000 // (sum(nb) * 2048) AS BIGINT)
       |    AS pack_eff_e6,
       |  CAST(sum(toks) * 1000000 // (sum(cnt) * 2048) AS BIGINT)
       |    AS naive_eff_e6,
       |  CAST(sum(cnt) - sum(nb) AS BIGINT) AS windows_saved
       |FROM fin CROSS JOIN sized GROUP BY n_oversize""".stripMargin

  /** The planted embedding corpus of the DBSCAN and single-linkage
    * oracles: `e` = the embeddings as DOUBLE[], `raw` = e plus near
    * copies (ids +10000/+20000 of every 7th, one dim nudged by ±0.008)
    * and looser chains (+30000/+40000 of every 11th).
    */
  private def plantedEmbeddingCtes: String =
    """e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |raw AS (SELECT vec_id, label, v FROM e
      |  UNION ALL SELECT vec_id + 10000, label, list_transform(range(len(v)),
      |    i -> CASE WHEN i = 0 THEN v[1] + 0.008 ELSE v[CAST(i AS INT)+1] END)
      |  FROM e WHERE vec_id % 7 = 0
      |  UNION ALL SELECT vec_id + 20000, label, list_transform(range(len(v)),
      |    i -> CASE WHEN i = 1 THEN v[2] + -0.008 ELSE v[CAST(i AS INT)+1] END)
      |  FROM e WHERE vec_id % 7 = 0
      |  UNION ALL SELECT vec_id + 30000, label, list_transform(range(len(v)),
      |    i -> CASE WHEN i = 0 THEN v[1] + 0.07 ELSE v[CAST(i AS INT)+1] END)
      |  FROM e WHERE vec_id % 11 = 3
      |  UNION ALL SELECT vec_id + 40000, label, list_transform(range(len(v)),
      |    i -> CASE WHEN i = 0 THEN v[1] + 0.14 ELSE v[CAST(i AS INT)+1] END)
      |  FROM e WHERE vec_id % 11 = 3)""".stripMargin

  /** Same-label pairs va < vb sharing either band code (c0 or c1) of
    * the `codes` CTE — the DBSCAN / single-linkage candidate SELECT.
    */
  private val codesBandPairsSql: String =
    """SELECT a.vec_id AS va, b.vec_id AS vb
      |    FROM codes a JOIN codes b
      |      ON a.label = b.label AND a.c0 = b.c0 AND a.vec_id < b.vec_id
      |  UNION SELECT a.vec_id, b.vec_id
      |    FROM codes a JOIN codes b
      |      ON a.label = b.label AND a.c1 = b.c1 AND a.vec_id < b.vec_id""".stripMargin

  /** The BPE training replay shared by the q_bpe_* oracles: `bwords` =
    * word-type frequencies, `bseq0` = each type as char symbols plus
    * `</w>`, then the 8 unrolled merge iterations to `bseq8`
    * ([[bpeIterCtes]]).
    */
  private def bpeChainCtes: String =
    s"""bwords AS (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(${wordsSql("lower(text)")}) AS word FROM documents) u
       |  WHERE length(word) >= 1 GROUP BY word),
       |bseq0 AS (
       |  SELECT word, freq, pos, ws[pos + 1] AS s FROM (
       |    SELECT word, freq,
       |      list_append(list_transform(range(length(word)), j -> substr(word, CAST(j + 1 AS INT), 1)), '</w>') AS ws
       |    FROM bwords) t,
       |    LATERAL (SELECT unnest(range(len(ws))) AS pos) p),
       |${(1 to 8).map(bpeIterCtes).mkString(",\n")}""".stripMargin

  /** The Gopher-rule per-doc metric columns over a word list `ws`
    * (n_words, sum_len, n_alpha, n_stop, tot_bg, dup_bg), exact
    * integers off one list projection.
    */
  private val gopherMetricsSql: String =
    """    CAST(len(ws) AS BIGINT) AS n_words,
      |    CAST(list_aggregate(list_transform(ws, x -> length(x)), 'sum')
      |      AS BIGINT) AS sum_len,
      |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
      |      AS BIGINT) AS n_alpha,
      |    CAST(len(list_filter(ws, x -> list_contains(
      |      ['the','be','to','of','and','that','have','with'], x)))
      |      AS BIGINT) AS n_stop,
      |    CAST(greatest(len(ws) - 1, 0) AS BIGINT) AS tot_bg,
      |    CAST(greatest(len(ws) - 1, 0) - len(list_distinct(list_transform(
      |      range(len(ws) - 1), i -> ws[i+1] || ' ' || ws[i+2])))
      |      AS BIGINT) AS dup_bg""".stripMargin

  /** Exact re-rank of the ANN shortlist `sl` (query_id, neighbor_id,
    * adc_e6) against the raw vectors `pqe0`: e6-floored squared L2,
    * top 3 per query — the refine step of q_ann_pq_refine and
    * q_ann_ivfpq_refine.
    */
  private def exactRerankSql: String =
    s"""re AS (
       |  SELECT s.query_id, s.neighbor_id, s.adc_e6,
       |    CAST(floor((${dotSql("n.v", "n.v")} - 2.0 * ${dotSql("q.v", "n.v")}
       |      + ${dotSql("q.v", "q.v")}) * 1000000.0) AS BIGINT) AS d2_e6
       |  FROM sl s JOIN pqe0 q ON s.query_id = q.vec_id
       |       JOIN pqe0 n ON s.neighbor_id = n.vec_id)
       |SELECT query_id, neighbor_id, rnk, adc_e6, d2_e6 FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY d2_e6, neighbor_id) AS BIGINT) AS rnk
       |  FROM re)
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** IVFADC top-3 over the nprobe=3 cells — q_ann_ivfpq, and
    * q_ann_ivfpq_pruned, whose partition-pruned layout returns
    * bit-identical rows.
    */
  private def ivfPqTop3Sql: String =
    s"""WITH pqe0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$ivfPqCtes
       |SELECT query_id, neighbor_id, rnk, adc_e6 FROM (
       |  SELECT query_id, neighbor_id, adc_e6,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_e6, neighbor_id) AS BIGINT) AS rnk
       |  FROM ivadc WHERE cell_rn <= 3)
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** Three PageRank iterations over a weighted edge CTE `ed` (src,
    * dst, w): damping 0.85 over 1000 total mass, each round's ranks
    * rounded to 6 places on both engines (the unrolled-kmeans device),
    * ending at `pr3` (node, pr). Shared by q_pagerank and q_textrank.
    */
  private def pagerankCtes: String = {
    def iter(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT node, round(150.0 / nn + 0.85 * coalesce(c, 0.0), 6) AS pr
         |  FROM nodes CROSS JOIN n LEFT JOIN (
         |    SELECT dst, sum(pr * share) AS c
         |    FROM e2 JOIN $prev ON e2.src = $prev.node GROUP BY dst) t
         |  ON nodes.node = t.dst)""".stripMargin
    s"""nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nodes),
       |ow AS (SELECT src, sum(w) AS outw FROM ed GROUP BY src),
       |e2 AS (SELECT ed.src, ed.dst, ed.w / ow.outw AS share FROM ed JOIN ow USING (src)),
       |pr0 AS (SELECT node, round(1000.0 / nn, 6) AS pr FROM nodes CROSS JOIN n),
       |${iter("pr0", "pr1")},
       |${iter("pr1", "pr2")},
       |${iter("pr2", "pr3")}""".stripMargin
  }

  /** Per-user first-7 event-type sequences (`seqs`, users < 8), every
    * user pair (`pairs`: user_a < user_b with arrays a, b), and the 7×7
    * DP lattice `cells` over a/b re-rowed by [[dpRowCtes]] up to `dp7`
    * (final cell `ca7`) — the q_needleman / q_lcs_sim base.
    */
  private def userPairDpCtes(cells: Seq[(String, String)]): String =
    s"""s0 AS (SELECT user_id,
       |    list_slice(list(event_type ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
       |      event_id), 1, 7) AS arr
       |  FROM events WHERE user_id < 8 GROUP BY user_id),
       |seqs AS (SELECT user_id, arr FROM s0 WHERE len(arr) = 7),
       |pairs AS (SELECT p.user_id AS user_a, q.user_id AS user_b,
       |    p.arr AS a, q.arr AS b
       |  FROM seqs p JOIN seqs q ON q.user_id > p.user_id),
       |${dpRowCtes(cells, 7, 7, "user_a, user_b, a, b", "pairs", "dp")}""".stripMargin

  /** The rater-rank scaffold of the Kendall-W and Copeland oracles:
    * each event type rates articles 1..40 by its event counts (`grid`,
    * zero-filled), ranked per rater by (count desc, article) in `rk`.
    */
  private val raterRankCtes: String =
    """cnt AS (SELECT event_type AS rater, event_id % 40 + 1 AS article,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |raters AS (SELECT DISTINCT rater FROM cnt),
      |grid AS (SELECT r.rater, g.article, coalesce(cnt.cnt, 0) AS cnt
      |  FROM raters r
      |  CROSS JOIN (SELECT CAST(unnest(range(1, 41)) AS BIGINT) AS article) g
      |  LEFT JOIN cnt ON cnt.rater = r.rater AND cnt.article = g.article),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY rater
      |    ORDER BY cnt DESC, article) AS rnk FROM grid)""".stripMargin

  /** MinHash-LSH candidate chain over relation `base` (doc_id, text):
    * `sh` (hashed shingles) → `hx` → `sig` → `bands` → `cand` = DISTINCT
    * (doc_a < doc_b) pairs sharing a band. Shared by [[lshPairsCtes]]
    * and the curation near-dup stage ([[curationCtes]]).
    */
  private def lshCandCtes(base: String): String =
    s"""sh AS (SELECT doc_id, $hashedShinglesSql AS shingles
       |       FROM (SELECT doc_id, ${wordsSql("lower(text)")} AS w FROM $base)),
       |hx AS (SELECT doc_id, unnest(shingles) AS h FROM sh),
       |sig AS (SELECT doc_id, $minhashSigSql FROM hx GROUP BY doc_id),
       |bands AS (SELECT doc_id, unnest([
       |    concat_ws(':', '0', s0, s1), concat_ws(':', '1', s2, s3),
       |    concat_ws(':', '2', s4, s5), concat_ws(':', '3', s6, s7)]) AS band FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)""".stripMargin

  /** Shared CTE chain for the MinHash-LSH pipeline over documents plus
    * planted near copies; `scored` = candidate pairs with exact Jaccard.
    * Used by q_minhash_lsh and q_dedup_clusters.
    */
  private lazy val lshPairsCtes: String =
    s"""base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000, replace(text, 'data', 'info') FROM documents WHERE doc_id % 5 = 0),
       |${lshCandCtes("base")},
       |scored AS (
       |  SELECT doc_a, doc_b,
       |    round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS jaccard
       |  FROM cand JOIN sh sa ON cand.doc_a = sa.doc_id JOIN sh sb ON cand.doc_b = sb.doc_id)""".stripMargin

  /** [[lshPairsCtes]] plus the near-dup cluster closure: `pairs` at
    * Jaccard >= 0.5, symmetrized `edges`, and the recursive `cc` whose
    * per-node min(m) is the cluster label (the smallest doc_id in the
    * component). Needs WITH RECURSIVE.
    */
  private def lshClusterCtes: String =
    s"""$lshPairsCtes,
       |pairs AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |cc AS (SELECT node, node AS m FROM nodes
       |       UNION
       |       SELECT e.dst AS node, cc.m FROM cc JOIN edges e ON e.src = cc.node)""".stripMargin

  /** shingle/signature/band CTE triple for one doc source — the
    * per-side building block of the incremental-dedup oracle (suffix
    * distinguishes the new-batch and corpus pipelines).
    */
  private def lshSideCtes(suffix: String, base: String): String =
    s"""sh$suffix AS (SELECT doc_id, $hashedShinglesSql AS shingles
       |       FROM (SELECT doc_id, ${wordsSql("lower(text)")} AS w FROM $base)),
       |hx$suffix AS (SELECT doc_id, unnest(shingles) AS h FROM sh$suffix),
       |sig$suffix AS (SELECT doc_id, $minhashSigSql FROM hx$suffix GROUP BY doc_id),
       |band$suffix AS (SELECT doc_id, unnest([
       |    concat_ws(':', '0', s0, s1), concat_ws(':', '1', s2, s3),
       |    concat_ws(':', '2', s4, s5), concat_ws(':', '3', s6, s7)]) AS band FROM sig$suffix)""".stripMargin

  private def occSql(w: String): String =
    s"CAST((length(pt) - length(replace(pt, '$w', ''))) / ${w.length} AS BIGINT)"

  private def langScoreSql(lang: String): String =
    graft.ops.TextOps.LangStopwords.toMap.apply(lang).map(occSql).mkString(" + ")

  /** The curation gate chain over the caller's `base` CTE (doc_id,
    * text), generated from the same constants as the Spark stages
    * (TextOps / Dedup / Curation): language + quality gates → `gated`,
    * md5 exact dedup → `ek`, LSH near-dup → `neardrop` (the doc_b of
    * every candidate pair at Jaccard >= JaccardMin). Shared by the five
    * q_curation* oracles.
    */
  private def curationCtes: String =
    s"""b0 AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS pt, ${wordsSql("text")} AS w FROM base),
       |s AS (SELECT doc_id, text,
       |        ${langScoreSql("en")} AS s_en, ${langScoreSql("es")} AS s_es,
       |        ${langScoreSql("de")} AS s_de, ${langScoreSql("zh")} AS s_zh,
       |        round(least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.5
       |          + (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / length(text)) * 0.3
       |          + CAST(len(list_distinct(w)) AS DOUBLE) / len(w) * 0.2, 6) AS quality
       |      FROM b0),
       |gated AS (SELECT doc_id, text, quality FROM s
       |          WHERE s_en >= s_es AND s_en >= s_de AND s_en >= s_zh AND s_en > 0
       |            AND quality >= ${graft.ops.Curation.QualityMin}),
       |ex AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
       |ek AS (SELECT g.* FROM gated g WHERE g.doc_id IN (SELECT doc_id FROM ex)),
       |${lshCandCtes("ek")},
       |neardrop AS (SELECT DISTINCT doc_b AS doc_id FROM (
       |    SELECT doc_a, doc_b,
       |      round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |        / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS j
       |    FROM cand JOIN sh sa ON cand.doc_a = sa.doc_id JOIN sh sb ON cand.doc_b = sb.doc_id)
       |  WHERE j >= ${graft.ops.Curation.JaccardMin})""".stripMargin

  /** The curation split tail over relation `kept` (doc_id, quality):
    * md5-bucket hash split, 80/10/10 train/val/test, ordered by doc_id.
    */
  private def curationSplitSql(kept: String): String =
    s"""d AS (SELECT doc_id, quality,
       |        ${hSql("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 AS b FROM $kept)
       |SELECT doc_id, quality,
       |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |FROM d ORDER BY doc_id""".stripMargin

  /** The covered-span plant corpus shared by q_curation_spancov and
    * q_curation_strip: documents, every third doc copied (id+10000),
    * vowel-rotated hosts carrying a 30-token quote (id+70000) and the
    * pure quotes (id+80000). Defines `dsrc`, `elig` and `base`.
    */
  private def coverPlantBaseCtes: String =
    s"""dsrc AS (SELECT doc_id, text FROM documents),
       |elig AS (SELECT a.doc_id AS aid,
       |    array_to_string(string_split_regex(trim(lower(a.text)), '\\s+')[11:40], ' ') AS quote,
       |    translate(lower(b.text), 'aeiou', 'eioua') AS rb
       |  FROM dsrc a JOIN dsrc b ON b.doc_id = a.doc_id + 3
       |  WHERE a.doc_id % 11 = 0
       |    AND len(string_split_regex(trim(lower(a.text)), '\\s+')) >= 40
       |    AND len(string_split_regex(trim(lower(b.text)), '\\s+')) >= 60),
       |base AS (
       |  SELECT doc_id, text FROM dsrc
       |  UNION ALL
       |  SELECT doc_id + 10000, text FROM dsrc WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT aid + 70000, rb || ' ' || quote FROM elig
       |  UNION ALL
       |  SELECT aid + 80000, quote FROM elig)""".stripMargin

  /** Sequential-fold dot product — matches graft.functions.DotProduct
    * (same left fold, same op order).
    */
  private def dotSql(x: String, y: String): String =
    s"list_reduce(list_transform(range(len($x)), i -> $x[i+1] * $y[i+1]), (x, y) -> x + y)"

  /** Unit-normalization matching graft.ops.Similarity.normalized:
    * each element divided by sqrt(dot(v,v)).
    */
  private def normSql(v: String): String =
    s"list_transform($v, x -> x / sqrt(${dotSql(v, v)}))"

  /** 4-bit sign-LSH band code over column `v` from LshPlanes[lo..lo+3]
    * with LOCAL bit weights — matches Queries.dbscanQ's bandCode.
    */
  private def dbscanBand(lo: Int): String =
    Queries.LshPlanes.slice(lo, lo + 4).zipWithIndex.map { case (pl, p) =>
      val plLit = "([" + pl.mkString(", ") + "]::DOUBLE[])"
      s"(CASE WHEN ${dotSql("v", plLit)} > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  /** 3-iteration Lloyd chain over relation `e0` (vec_id, label, v):
    * label-seeded centroids, per-iteration 6dp-rounded means, ends at
    * the final assignment `af` — replays Similarity.kmeans(e, 3).
    * Shared by q_kmeans and q_semdedup (whose e0 includes planted
    * copies).
    */
  private lazy val kmeansCtes: String = {
    def assign(cents: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e0.vec_id, $cents.cell,
         |      row_number() OVER (PARTITION BY e0.vec_id ORDER BY
         |        (${dotSql("v", "v")} - 2.0 * ${dotSql("v", "cv")} + ${dotSql("cv", "cv")}), $cents.cell) AS rn
         |    FROM e0 CROSS JOIN $cents)
         |  WHERE rn = 1)""".stripMargin
    def recompute(asg: String, out: String): String =
      s"""${out}d AS (
         |  SELECT cell, dim, round(avg(x), 6) AS m
         |  FROM (SELECT a.cell, v, unnest(range(len(v))) AS dim
         |        FROM e0 JOIN $asg a ON e0.vec_id = a.vec_id) t,
         |       LATERAL (SELECT v[dim + 1] AS x) l
         |  GROUP BY cell, dim),
         |$out AS (SELECT cell, list(m ORDER BY dim) AS cv FROM ${out}d GROUP BY cell)""".stripMargin
    s"""c0d AS (SELECT CAST(label AS BIGINT) AS cell, dim, round(avg(x), 6) AS m
       |        FROM (SELECT label, v, unnest(range(len(v))) AS dim FROM e0) t,
       |             LATERAL (SELECT v[dim + 1] AS x) l
       |        GROUP BY cell, dim),
       |c0 AS (SELECT cell, list(m ORDER BY dim) AS cv FROM c0d GROUP BY cell),
       |${assign("c0", "a1")},
       |${recompute("a1", "c1")},
       |${assign("c1", "a2")},
       |${recompute("a2", "c2")},
       |${assign("c2", "a3")},
       |${recompute("a3", "c3")},
       |${assign("c3", "af")}""".stripMargin
  }

  /** Shared CTE prefix replaying the multi-table LSH ANN pipeline
    * (Similarity.lshMultiTableCodes + exact-cosine rerank input):
    * planes regenerated from the same md5 tags (the tag string is
    * materialized in its own CTE `ps` — hSql's list_transform lambda is
    * named `i`, and an outer column `i` inside its md5 argument would
    * be captured by the LAMBDA variable, silently hashing the wrong
    * tags), codes re-derived with sequential-fold dots. Ends at
    * `scored` (candidate pairs + exact cosine); q_ann_multitable ranks
    * it, q_ann_recall scores it against brute-force truth.
    */
  /** PQ/ADC CTE chain generators replaying
    * Similarity.pqCodebooks/pqEncode/pqAdcTopK for any (prefix, source,
    * m, seed, Lloyd rounds): subvector width derived from the data
    * (`len(v) // m` — a dimension change can't silently slice wrong
    * subspaces), seed-assigned 6dp-mean codebooks `{p}b0`, then each
    * Lloyd round unrolled as assign `{p}a{r}` (dot-identity L2,
    * cell-id tie-break) + recompute `{p}b{r}` (empty cells drop), and
    * [[pqAdcCtes]] appending encode/LUT/ADC ending at `{p}adc`
    * (query_id, neighbor_id, adc_e6). Shared by q_ann_pq,
    * q_ann_pq_lloyd, q_ann_ivfpq, and the q_ann_pq_recall replay.
    */
  private def pqDistSql: String =
    s"(${dotSql("sv", "sv")} - 2.0 * ${dotSql("sv", "cv")} + ${dotSql("cv", "cv")})"

  private def pqAssignCte(p: String, prev: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, s, cell FROM (
       |    SELECT t.vec_id, t.s, b.cell,
       |      row_number() OVER (PARTITION BY t.vec_id, t.s ORDER BY
       |        $pqDistSql, b.cell) AS rn
       |    FROM ${p}sub t JOIN $prev b ON t.s = b.s)
       |  WHERE rn = 1)""".stripMargin

  private def pqChainCtes(p: String, srcCte: String, m: Int, seedExpr: String,
      rounds: Int): String = {
    val width = s"(len(v) // $m)"
    val sub =
      s"""${p}sub AS (
         |  SELECT vec_id, $seedExpr AS cell0, CAST(s AS INT) AS s,
         |    v[CAST(s * $width + 1 AS BIGINT):CAST((s + 1) * $width AS BIGINT)] AS sv
         |  FROM $srcCte CROSS JOIN (SELECT unnest(range($m)) AS s))""".stripMargin
    val seed =
      s"""${p}b0d AS (
         |  SELECT s, cell0 AS cell, dim, round(avg(x), 6) AS mu
         |  FROM (SELECT s, cell0, sv, unnest(range(len(sv))) AS dim FROM ${p}sub) t,
         |       LATERAL (SELECT sv[dim + 1] AS x) l
         |  GROUP BY s, cell, dim),
         |${p}b0 AS (SELECT s, cell, list(mu ORDER BY dim) AS cv FROM ${p}b0d GROUP BY s, cell)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""${pqAssignCte(p, s"${p}b${r - 1}", s"${p}a$r")},
         |${p}b${r}d AS (
         |  SELECT t.s, t.cell, t.dim, round(avg(x), 6) AS mu
         |  FROM (SELECT sub.s, a.cell, sub.sv, unnest(range(len(sub.sv))) AS dim
         |        FROM ${p}sub sub JOIN ${p}a$r a ON sub.vec_id = a.vec_id AND sub.s = a.s) t,
         |       LATERAL (SELECT sv[dim + 1] AS x) l
         |  GROUP BY t.s, t.cell, t.dim),
         |${p}b$r AS (SELECT s, cell, list(mu ORDER BY dim) AS cv FROM ${p}b${r}d GROUP BY s, cell)""".stripMargin
    }
    (Seq(sub, seed) ++ roundCtes).mkString(",\n")
  }

  /** encode + per-query LUT + ADC aggregate over a [[pqChainCtes]]
    * prefix, against books `$booksCte`; ends at `{p}adc`.
    */
  private def pqAdcCtes(p: String, booksCte: String): String =
    s"""${pqAssignCte(p, booksCte, s"${p}enc")},
       |${p}lut AS (
       |  SELECT q.vec_id AS query_id, q.s, b.cell,
       |    CAST(floor($pqDistSql * 1000000.0) AS BIGINT) AS d_e6
       |  FROM (SELECT * FROM ${p}sub WHERE vec_id < 10) q JOIN $booksCte b ON q.s = b.s),
       |${p}adc AS (
       |  SELECT l.query_id, e.vec_id AS neighbor_id,
       |    CAST(sum(d_e6) AS BIGINT) AS adc_e6
       |  FROM ${p}enc e JOIN ${p}lut l ON e.s = l.s AND e.cell = l.cell
       |  WHERE e.vec_id <> l.query_id
       |  GROUP BY 1, 2)""".stripMargin

  /** Binary-hamming CTE chain (sign packing into two half-words +
    * pairwise bit_count(xor) distances) ending at `hsc` — shared by
    * q_ann_hamming and q_ann_quant_recall.
    */
  private lazy val hammingCtes: String =
    """he0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |hcodes AS (SELECT vec_id,
      |    list_reduce(list_transform(range(len(v) // 2),
      |      i -> CASE WHEN v[i + 1] > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
      |           ELSE CAST(0 AS BIGINT) END), (x, y) -> x + y) AS w0,
      |    list_reduce(list_transform(range(len(v) // 2),
      |      i -> CASE WHEN v[i + (len(v) // 2) + 1] > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
      |           ELSE CAST(0 AS BIGINT) END), (x, y) -> x + y) AS w1
      |  FROM he0),
      |hsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(bit_count(xor(c.w0, q.w0)) + bit_count(xor(c.w1, q.w1)) AS BIGINT) AS hamming
      |  FROM hcodes c JOIN (SELECT * FROM hcodes WHERE vec_id < 10) q
      |    ON c.vec_id <> q.vec_id)""".stripMargin

  /** SQ8 CTE chain (per-dim min/max affine int8 quantization + integer
    * squared code distances) ending at `qsc` — shared by q_ann_sq8 and
    * q_ann_quant_recall.
    */
  private lazy val sq8Ctes: String =
    """qe0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |qex AS (SELECT vec_id, i AS dim, v[i + 1] AS x
      |  FROM qe0, unnest(range(len(v))) AS u(i)),
      |qrg AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM qex GROUP BY 1),
      |qcodes AS (SELECT vec_id, qex.dim,
      |    CAST(CASE WHEN hi = lo THEN 0
      |      ELSE floor((x - lo) * 255.0 / (hi - lo)) END AS BIGINT) AS code
      |  FROM qex JOIN qrg ON qex.dim = qrg.dim),
      |qsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(sum((q.code - c.code) * (q.code - c.code)) AS BIGINT) AS d2_code
      |  FROM qcodes c JOIN (SELECT * FROM qcodes WHERE vec_id < 10) q
      |    ON c.dim = q.dim AND c.vec_id <> q.vec_id
      |  GROUP BY 1, 2)""".stripMargin

  /** The plain (one-shot label-seeded, m=4) PQ chain ending at
    * `pq0adc` — q_ann_pq's oracle and the `pq4x10_adc` recall row.
    */
  private lazy val pqCtes: String =
    s"""pqe0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${pqChainCtes("pq0", "pqe0", 4, "CAST(label AS BIGINT)", 0)},
       |${pqAdcCtes("pq0", "pq0b0")}""".stripMargin

  /** The 2-round-Lloyd-refined m=4 chain ending at `pq2adc`. */
  private lazy val pqLloydCtes: String =
    s"""${pqChainCtes("pq2", "pqe0", 4, "CAST(label AS BIGINT)", 2)},
       |${pqAdcCtes("pq2", "pq2b2")}""".stripMargin

  /** IVFADC replay: label-mean coarse centroids, residuals, a
    * vec_id%32-seeded 2-round m=8 PQ chain over the residuals, codes
    * tagged with their coarse cell, per-query cell ranks with query
    * residuals, the per-(query, cell) LUT, and the ADC aggregate
    * `ivadc` carrying `cell_rn` (the neighbor's cell rank for that
    * query — the ADC sum itself is nprobe-independent, so consumers
    * apply their probe cap as `WHERE cell_rn <= np`) —
    * Similarity.ivfResiduals/ivfProbedCellsRanked/ivfPqTopK
    * end-to-end.
    */
  private lazy val ivfPqCtes: String = {
    val width = "(len(v) // 8)"
    s"""ivcd AS (
       |  SELECT CAST(label AS BIGINT) AS cell, dim, round(avg(x), 6) AS m
       |  FROM (SELECT label, v, unnest(range(len(v))) AS dim FROM pqe0) t,
       |       LATERAL (SELECT v[dim + 1] AS x) l
       |  GROUP BY cell, dim),
       |ivcents AS (SELECT cell, list(m ORDER BY dim) AS cv FROM ivcd GROUP BY cell),
       |ivasg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT pqe0.vec_id, ivcents.cell,
       |      row_number() OVER (PARTITION BY pqe0.vec_id ORDER BY
       |        (${dotSql("v", "v")} - 2.0 * ${dotSql("v", "cv")} + ${dotSql("cv", "cv")}), ivcents.cell) AS rn
       |    FROM pqe0 CROSS JOIN ivcents)
       |  WHERE rn = 1),
       |ivres AS (
       |  SELECT p.vec_id, a.cell AS ivf_cell,
       |    list_transform(range(len(v)), i -> v[i + 1] - cv[i + 1]) AS v
       |  FROM pqe0 p JOIN ivasg a ON p.vec_id = a.vec_id
       |       JOIN ivcents c ON a.cell = c.cell),
       |${pqChainCtes("iv", "ivres", 8, "vec_id % 32", 2)},
       |${pqAssignCte("iv", "ivb2", "ivenc")},
       |ivencc AS (
       |  SELECT e.vec_id, a.cell AS ivf_cell, e.s, e.cell
       |  FROM ivenc e JOIN ivasg a ON e.vec_id = a.vec_id),
       |ivprobe AS (
       |  SELECT q.vec_id AS query_id, c.cell AS ivf_cell,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      (${dotSql("q.v", "q.v")} - 2.0 * ${dotSql("q.v", "c.cv")} + ${dotSql("c.cv", "c.cv")}), c.cell) AS rn
       |  FROM (SELECT * FROM pqe0 WHERE vec_id < 10) q CROSS JOIN ivcents c),
       |ivqres AS (
       |  SELECT p.query_id, p.ivf_cell, p.rn,
       |    list_transform(range(len(q.v)), i -> q.v[i + 1] - c.cv[i + 1]) AS v
       |  FROM ivprobe p JOIN pqe0 q ON p.query_id = q.vec_id
       |       JOIN ivcents c ON p.ivf_cell = c.cell),
       |ivqsub AS (
       |  SELECT query_id, ivf_cell, rn, CAST(s AS INT) AS s,
       |    v[CAST(s * $width + 1 AS BIGINT):CAST((s + 1) * $width AS BIGINT)] AS sv
       |  FROM ivqres CROSS JOIN (SELECT unnest(range(8)) AS s)),
       |ivlut AS (
       |  SELECT q.query_id, q.ivf_cell, q.rn, q.s, b.cell,
       |    CAST(floor($pqDistSql * 1000000.0) AS BIGINT) AS d_e6
       |  FROM ivqsub q JOIN ivb2 b ON q.s = b.s),
       |ivadc AS (
       |  SELECT l.query_id, e.vec_id AS neighbor_id,
       |    CAST(sum(d_e6) AS BIGINT) AS adc_e6,
       |    CAST(max(l.rn) AS BIGINT) AS cell_rn
       |  FROM ivencc e JOIN ivlut l
       |    ON e.ivf_cell = l.ivf_cell AND e.s = l.s AND e.cell = l.cell
       |  WHERE e.vec_id <> l.query_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  private val annMtCtes: String =
    s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |e AS (SELECT vec_id, ${normSql("v")} AS v FROM e0),
       |ps AS (SELECT t, p, di,
       |        'mt:' || CAST(t AS VARCHAR) || ':' || CAST(p AS VARCHAR) || ':' || CAST(di AS VARCHAR) AS tag
       |       FROM range(32) tt(t), range(6) pp(p), range(64) ii(di)),
       |pw AS (SELECT t, p, di, CAST(${hSql("tag")} % 1000 AS DOUBLE) / 1000.0 - 0.5 AS w FROM ps),
       |pl AS (SELECT t, p, list(w ORDER BY di) AS pv FROM pw GROUP BY t, p),
       |dots AS (SELECT e.vec_id, pl.t, pl.p, ${dotSql("v", "pv")} AS d FROM e CROSS JOIN pl),
       |codes AS (SELECT vec_id, t, CAST(sum(CASE WHEN d > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS code
       |          FROM dots GROUP BY vec_id, t),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |         FROM codes c JOIN (SELECT * FROM codes WHERE vec_id < 10) q
       |           ON c.t = q.t AND c.code = q.code
       |         WHERE c.vec_id <> q.vec_id),
       |scored AS (SELECT cand.query_id, cand.neighbor_id, ${dotSql("qe.v", "ce.v")} AS cs
       |           FROM cand JOIN e qe ON qe.vec_id = cand.query_id
       |                     JOIN e ce ON ce.vec_id = cand.neighbor_id)""".stripMargin

  private val minhashSigSql: String = {
    import graft.ops.Dedup.{MinHashA => A, MinHashB => B, MinHashP => P}
    (0 until 8).map(j => s"min((h * ${A(j)} + ${B(j)}) % $P) AS s$j").mkString(", ")
  }

  /** Brute-force simhash pair list — shared verbatim by q_simhash_pairs
    * and the blocked variant (whose recall is structural, not
    * probabilistic, so outputs are identical).
    */
  private lazy val simhashPairsOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 100
       |  UNION ALL
       |  SELECT doc_id + 10000, replace(text, 'data', 'info') FROM documents WHERE doc_id < 100 AND doc_id % 5 = 0),
       |t AS (SELECT doc_id, list_transform(list_distinct(${wordsSql("lower(text)")}), wd -> ${hSql("wd")}) AS hs FROM base),
       |s AS (SELECT doc_id, CAST($simhashSql AS BIGINT) AS simhash FROM t)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  private val simhashSql: String =
    (0 until 16).map { k =>
      s"CASE WHEN list_sum(list_transform(hs, x -> ((x >> $k) & 1) * 2 - 1)) > 0 THEN ${1L << k} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** The as-of join contract (latest view at or before each purchase per
    * user, ties to max view id) — shared by all three as-of executions.
    */
  private val asofOracle: String =
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
      |u AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS mts, 1 AS tag, 9223372036854775807 AS ord,
      |         CAST(NULL AS BIGINT) AS r_id, event_id AS l_id FROM p
      |  UNION ALL
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS mts, 0 AS tag, event_id AS ord,
      |         event_id AS r_id, CAST(NULL AS BIGINT) AS l_id FROM v),
      |m AS (SELECT *, last_value(r_id IGNORE NULLS) OVER (
      |        PARTITION BY user_id ORDER BY mts, tag, ord
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_id FROM u)
      |SELECT l_id AS purchase_id, user_id, view_id
      |FROM m WHERE tag = 1
      |ORDER BY purchase_id""".stripMargin

  /** Deep multi-reference CTE chains whose replay cost collapses under
    * [[mat]] (r12 oracle-latency audit, quiet sf0.01 A/B, results
    * bit-identical): dbscan 61.8→5.0 s, curation_spancov 60.3→0.4,
    * curation_spans 27.5→0.4, ann_pq_recall 24.7→3.8, bpe_merges
    * 24.0→0.3, bpe_encode 20.4→0.3, curation_lm 19.6→0.4,
    * curation_strip 19.2→0.4. The DP lattices (dtw/needleman/lcs_sim)
    * are NOT here — blanket materialization made them slower; they use
    * [[dpRowCtes]] instead.
    */
  private val MatOracles = Set("q_dbscan", "q_curation_spancov",
    "q_curation_spans", "q_ann_pq_recall", "q_bpe_merges", "q_bpe_encode",
    "q_curation_lm", "q_curation_strip",
    // r13: shares q_bpe_encode's deep 8-iteration chain
    "q_bpe_compression",
    // r13: five curve rows each read a different bseq prefix state
    "q_bpe_curve",
    // r13: six-gate Venn — the LSH shingle tables are read three
    // times and the lm chain twice; plain CTEs would re-run them
    "q_filter_attribution")

  def oracleSql: Map[String, String] = oracleSql0.map { case (k, v) =>
    k -> (if (MatOracles(k)) mat(v, k) else v)
  }

  private def oracleSql0: Map[String, String] = Map(
    // The HLL++ estimate is engine-specific; the oracle asserts the
    // CONTRACT — the query's within_bound column must be literally true.
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Sketch-partial rollup contract oracle (see q_approx_distinct):
    // the exact distinct + day count are deterministic; the unioned
    // HLL estimate must earn its TRUE bound flag.
    "q_sketch_rollup" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, user_id
        |  FROM events)
        |SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  count(DISTINCT day) AS n_days,
        |  TRUE AS within_bound
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Sketch contract oracle (see q_approx_distinct): the deterministic
    // exact median plus a TRUE bound flag the Spark side must earn.
    "q_approx_quantile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
        |  TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Payloads are a pure function of media_id (graft.ops.Multimodal):
    // regenerate the filler bytes with generate_series and replay the
    // decode arithmetic (same double op order; round_even = math.rint).
    "q_media_pipeline" ->
      """WITH m AS (
        |  SELECT r.range AS id,
        |    CASE r.range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CASE WHEN r.range % 3 = 2 THEN 8 + r.range % 24 ELSE 1 END AS n_frames,
        |    256 + r.range % 512 AS filler_len
        |  FROM range(0, 2000) r),
        |s AS (
        |  SELECT m.*, 15 + filler_len AS payload_bytes,
        |    (SELECT sum((m.id * 31 + f.i * 7) % 256)
        |     FROM (SELECT unnest(generate_series(0, m.filler_len - 1)) AS i) f) AS byte_sum
        |  FROM m),
        |b AS (
        |  SELECT kind, n_frames, payload_bytes,
        |    CAST(round_even(CAST(byte_sum AS DOUBLE) / filler_len / 255.0 * 1000000.0, 0) AS BIGINT) AS micro
        |  FROM s)
        |SELECT kind,
        |  count(*) AS n_media,
        |  CAST(sum(n_frames) AS BIGINT) AS total_frames,
        |  floor(CAST(sum(micro) AS DOUBLE) / count(*) + 0.5) / 1000000.0 AS avg_brightness,
        |  CAST(sum(payload_bytes) AS BIGINT) AS total_bytes
        |FROM b GROUP BY kind ORDER BY kind""".stripMargin,

    // Media feature embeddings regenerated from the id formula (filler
    // byte (id*31 + i*7) % 256, 8 strided lanes, exact-int sums, same
    // double division order), then the knn oracle pattern.
    "q_media_features" -> {
      val lane = (j: Int) =>
        s"""(SELECT CAST(sum((m.id * 31 + f.i * 7) % 256) AS DOUBLE) / count(*) / 255.0
           |     FROM (SELECT unnest(generate_series(0, m.filler_len - 1)) AS i) f
           |     WHERE f.i % 8 = $j)""".stripMargin
      val lanesSql = (0 until 8).map(lane).mkString("[", ",\n    ", "]")
      s"""WITH m AS (
         |  SELECT r.range AS id, 256 + r.range % 512 AS filler_len FROM range(0, 2000) r),
         |emb AS (SELECT id AS vec_id, $lanesSql AS v FROM m),
         |e AS (SELECT vec_id, ${normSql("v")} AS v FROM emb),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, ${dotSql("q.v", "c.v")} AS cs
         |  FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 5) q
         |  WHERE c.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, rnk, round(cs, 6) AS cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin
    },

    // PII scrub: patterns interpolated from the SAME Scala constants
    // (RE2-safe by construction — DuckDB '...' literals do not process
    // backslashes, so the regex text passes through verbatim).
    "q_pii_redact" -> {
      val (e, ip, nm) = (graft.ops.TextOps.EmailRx, graft.ops.TextOps.Ipv4Rx,
        graft.ops.TextOps.LongNumRx)
      s"""WITH seeded AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0 THEN ' id ' || CAST(doc_id * 1000000007 + 123456789 AS VARCHAR) ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$e')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(text, '$nm')) AS BIGINT) AS n_nums,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text, '$e', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$nm', '<NUM>', 'g')) AS redacted_md5
         |FROM seeded ORDER BY doc_id""".stripMargin
    },

    // Word-window chunking: stride 32 (= 40 - 8 overlap); a trailing
    // start that only re-covers overlap words is dropped on both sides.
    "q_chunk_docs" ->
      s"""WITH t AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
         |s AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, 32)) AS start
         |      FROM t WHERE len(w) > 0)
         |SELECT doc_id, CAST(start // 32 AS BIGINT) AS chunk_idx,
         |  CAST(len(list_slice(w, start + 1, least(start + 40, len(w)))) AS BIGINT) AS n_words,
         |  md5(array_to_string(list_slice(w, start + 1, least(start + 40, len(w))), ' ')) AS chunk_md5
         |FROM s WHERE start = 0 OR start + 8 < len(w)
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_text_stats" ->
      s"""WITH t AS (SELECT doc_id, text, ${wordsSql("text")} AS w FROM documents)
         |SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS uniq_ratio,
         |  round(least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.5
         |    + (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / length(text)) * 0.3
         |    + CAST(len(list_distinct(w)) AS DOUBLE) / len(w) * 0.2, 6) AS quality
         |FROM t ORDER BY doc_id""".stripMargin,

    // Gopher-style repetition stats: position-indexed tokens (the
    // winnow LATERAL pattern), lead()-built bi/trigrams, per-gram
    // counts, per-doc top/duplicate fractions. Docs with < 2 tokens
    // have no bigrams and are structurally absent on both engines.
    "q_repetition" ->
      s"""WITH rbase AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 400
         |  UNION ALL
         |  SELECT doc_id + 90000, repeat('data model scales well today ', 20)
         |  FROM documents WHERE doc_id < 400 AND doc_id % 13 = 0),
         |rtoks AS (SELECT doc_id, pos, ws[pos+1] AS tok, len(ws) AS ng FROM (
         |    SELECT doc_id, ${wordsSql("lower(text)")} AS ws FROM rbase) s,
         |    LATERAL (SELECT unnest(range(len(ws))) AS pos) p),
         |rg AS (SELECT doc_id, pos, ng,
         |    tok || ' ' || lead(tok,1) OVER wo AS g2,
         |    tok || ' ' || lead(tok,1) OVER wo || ' ' || lead(tok,2) OVER wo AS g3
         |  FROM rtoks WINDOW wo AS (PARTITION BY doc_id ORDER BY pos)),
         |rc2 AS (SELECT doc_id, g2, count(*) AS c FROM rg WHERE pos <= ng - 2 GROUP BY 1, 2),
         |rc3 AS (SELECT doc_id, g3, count(*) AS c FROM rg WHERE pos <= ng - 3 GROUP BY 1, 2),
         |ra2 AS (SELECT doc_id, sum(c) AS n2, max(c) AS top2 FROM rc2 GROUP BY doc_id),
         |ra3 AS (SELECT doc_id, sum(c) AS n3,
         |          sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup3 FROM rc3 GROUP BY doc_id),
         |rf AS (SELECT ra2.doc_id, CAST(n2 AS BIGINT) AS n_bigrams,
         |    round(CAST(top2 AS DOUBLE) / n2, 6) AS top_bigram_frac,
         |    coalesce(round(CAST(dup3 AS DOUBLE) / n3, 6), 0.0) AS dup_trigram_frac
         |  FROM ra2 LEFT JOIN ra3 USING (doc_id))
         |SELECT doc_id, n_bigrams, top_bigram_frac, dup_trigram_frac,
         |  (top_bigram_frac > ${graft.ops.TextOps.RepTopBigramMax}
         |   OR dup_trigram_frac > ${graft.ops.TextOps.RepDupTrigramMax}) AS repetitive
         |FROM rf ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      s"""WITH t AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS pt FROM documents),
         |s AS (SELECT doc_id, lang,
         |  ${langScoreSql("en")} AS s_en,
         |  ${langScoreSql("es")} AS s_es,
         |  ${langScoreSql("de")} AS s_de,
         |  ${langScoreSql("zh")} AS s_zh
         |FROM t)
         |SELECT doc_id, lang,
         |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_zh AND s_en > 0 THEN 'en'
         |       WHEN s_es >= s_de AND s_es >= s_zh AND s_es > 0 THEN 'es'
         |       WHEN s_de >= s_zh AND s_de > 0 THEN 'de'
         |       WHEN s_zh > 0 THEN 'zh'
         |       ELSE 'und' END AS predicted
         |FROM s ORDER BY doc_id""".stripMargin,

    // Lang-ID confusion replay: the same score CASE, aggregated to
    // the |langs|²-bounded confusion table with per-label shares.
    "q_langid_acc" ->
      s"""WITH t AS (SELECT lang, ' ' || lower(text) || ' ' AS pt FROM documents),
         |s AS (SELECT lang,
         |  ${langScoreSql("en")} AS s_en,
         |  ${langScoreSql("es")} AS s_es,
         |  ${langScoreSql("de")} AS s_de,
         |  ${langScoreSql("zh")} AS s_zh
         |FROM t),
         |p AS (SELECT lang,
         |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_zh AND s_en > 0 THEN 'en'
         |       WHEN s_es >= s_de AND s_es >= s_zh AND s_es > 0 THEN 'es'
         |       WHEN s_de >= s_zh AND s_de > 0 THEN 'de'
         |       WHEN s_zh > 0 THEN 'zh'
         |       ELSE 'und' END AS predicted
         |FROM s),
         |conf AS (SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
         |         FROM p GROUP BY lang, predicted),
         |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS total FROM conf GROUP BY lang)
         |SELECT conf.lang, predicted, n,
         |  CAST(n * 1000000 // total AS BIGINT) AS share_e6,
         |  conf.lang = predicted AS correct
         |FROM conf JOIN tot ON conf.lang = tot.lang
         |ORDER BY conf.lang, predicted""".stripMargin,

    // RFM replay: identical per-customer aggregate, segment-relative
    // ntile(3) over deterministic orders, digit-coded rollup.
    "q_rfm" ->
      s"""WITH pc AS (
         |  SELECT o_custkey,
         |    max(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS rec_us,
         |    count(*) AS freq,
         |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS mon_cents
         |  FROM orders GROUP BY o_custkey),
         |j AS (SELECT pc.*, c_mktsegment FROM pc
         |      JOIN customer ON o_custkey = c_custkey),
         |r AS (
         |  SELECT c_mktsegment, mon_cents,
         |    ntile(3) OVER (PARTITION BY c_mktsegment ORDER BY rec_us DESC, o_custkey) AS r,
         |    ntile(3) OVER (PARTITION BY c_mktsegment ORDER BY freq DESC, o_custkey) AS f,
         |    ntile(3) OVER (PARTITION BY c_mktsegment ORDER BY mon_cents DESC, o_custkey) AS m
         |  FROM j)
         |SELECT c_mktsegment, CAST(r * 100 + f * 10 + m AS BIGINT) AS rfm,
         |  CAST(count(*) AS BIGINT) AS n_customers,
         |  CAST(sum(mon_cents) AS BIGINT) AS segment_cents
         |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Dup-rate replay: (source, md5) pre-aggregate, never
    // count(DISTINCT) over rows.
    "q_dup_rate" ->
      s"""WITH g AS (SELECT source, md5(text) AS h, count(*) AS c
         |           FROM documents GROUP BY source, md5(text))
         |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_unique,
         |  CAST((sum(c) - count(*)) * 1000000 // sum(c) AS BIGINT) AS dup_rate_e6
         |FROM g GROUP BY source ORDER BY source""".stripMargin,

    // Fertility replay: the q_text_stats token counts aggregated per
    // language, one integral division.
    "q_fertility" ->
      s"""WITH t AS (SELECT lang,
         |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS t,
         |    CAST(len(${wordsSql("text")}) AS BIGINT) AS w
         |  FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(t) AS BIGINT) AS bpe_tokens, CAST(sum(w) AS BIGINT) AS words,
         |  CAST(sum(t) * 1000000 // sum(w) AS BIGINT) AS fertility_e6
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin,

    "q_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, lower(trim(text)) AS nt, ${wordsSql("lower(text)")} AS w FROM documents),
         |s AS (SELECT doc_id, nt, $shinglesSql AS shingles FROM t)
         |SELECT doc_id, md5(nt) AS fp_md5, ${hSql("nt")} AS fp64,
         |  list_min(list_transform(shingles, g -> ${hSql("g")})) AS min_shingle_hash,
         |  list_min(list_transform(range(length(nt) - 15), i ->
         |    list_reduce(list_transform(range(16), j -> CAST(ord(substr(nt, i + j + 1, 1)) AS BIGINT)),
         |      (a, c) -> (a * 257 + c) % 1000000007))) AS rolling_min
         |FROM s ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 3 = 0)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM docs2 GROUP BY md5(text)
        |ORDER BY keep_id""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 100
         |  UNION ALL
         |  SELECT doc_id + 10000, replace(text, 'data', 'info') FROM documents WHERE doc_id < 100 AND doc_id % 5 = 0),
         |sh AS (SELECT doc_id, $hashedShinglesSql AS shingles
         |       FROM (SELECT doc_id, ${wordsSql("lower(text)")} AS w FROM base))
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_minhash_lsh" ->
      s"""WITH $lshPairsCtes
         |SELECT doc_a, doc_b, jaccard FROM scored
         |WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Assortativity replay: symmetrized distinct edges, endpoint
    // degrees, HUGEINT sufficient statistics, the same correctly-
    // rounded double sqrt + floor, one integral division.
    "q_assortativity" ->
      s"""WITH p AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |e AS (SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM p WHERE dst IS NOT NULL AND src <> dst
         |    UNION ALL
         |    SELECT dst, src FROM p WHERE dst IS NOT NULL AND src <> dst) u),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
         |j AS (
         |  SELECT dx.deg AS dx, dy.deg AS dy
         |  FROM e JOIN deg dx ON e.src = dx.node JOIN deg dy ON e.dst = dy.node),
         |s AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    sum(CAST(dx AS HUGEINT)) AS sx, sum(CAST(dy AS HUGEINT)) AS sy,
         |    sum(CAST(dx AS HUGEINT) * dy) AS sxy,
         |    sum(CAST(dx AS HUGEINT) * dx) AS sxx,
         |    sum(CAST(dy AS HUGEINT) * dy) AS syy
         |  FROM j)
         |SELECT CAST(n AS BIGINT) AS n_edges,
         |  CAST((n * sxy - sx * sy) * 1000000
         |    // CAST(floor(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         |               * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS HUGEINT) AS BIGINT)
         |    AS assortativity_e6
         |FROM s""".stripMargin,

    // Degree-distribution replay: distinct-neighbor degrees, counts
    // per degree, descending cumulative tail, tail fraction at 1e-6.
    "q_degree_dist" ->
      s"""WITH p AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |e AS (SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM p WHERE dst IS NOT NULL AND src <> dst
         |    UNION ALL
         |    SELECT dst, src FROM p WHERE dst IS NOT NULL AND src <> dst) u),
         |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
         |pv AS (SELECT d, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY d),
         |c AS (
         |  SELECT d, n_nodes,
         |    sum(n_nodes) OVER (ORDER BY d DESC) AS tail_nodes
         |  FROM pv),
         |t AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS total FROM pv)
         |SELECT CAST(d AS BIGINT) AS d, n_nodes,
         |  CAST(tail_nodes AS BIGINT) AS tail_nodes,
         |  CAST(tail_nodes * 1000000 // total AS BIGINT) AS tail_frac_e6
         |FROM c CROSS JOIN t ORDER BY d""".stripMargin,

    // Seasonality replay: hour-of-day counts, peak argmax by (count,
    // hour) struct order, chi² vs uniform with the silent-hour term in
    // closed form, HUGEINT at the 1e6 multiply.
    "q_seasonality" ->
      s"""WITH h AS (
         |  SELECT event_type,
         |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hour,
         |    count(*) AS o
         |  FROM events GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS n FROM h GROUP BY event_type),
         |s AS (
         |  SELECT h.event_type, n, count(*) AS hours_active,
         |    max(struct_pack(o := o, hour := hour)) AS peak,
         |    sum((24 * o - n) * (24 * o - n)) AS ss
         |  FROM h JOIN t ON h.event_type = t.event_type
         |  GROUP BY h.event_type, n)
         |SELECT event_type, n, CAST(hours_active AS BIGINT) AS hours_active,
         |  CAST(peak.hour AS BIGINT) AS peak_hour, CAST(peak.o AS BIGINT) AS peak_count,
         |  CAST((CAST(ss + (24 - hours_active) * n * n AS HUGEINT) * 1000000)
         |    // (24 * n) AS BIGINT) AS chi2_e6
         |FROM s ORDER BY event_type""".stripMargin,

    // Churn replay: pre-distinct user-week table, left anti on week+1.
    "q_churn" ->
      s"""WITH uw AS (
         |  SELECT DISTINCT user_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk
         |  FROM events),
         |nx AS (SELECT user_id, wk - 1 AS wk, 1 AS active_next FROM uw)
         |SELECT uw.wk, CAST(count(*) AS BIGINT) AS n_active,
         |  CAST(sum(CASE WHEN nx.active_next IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
         |  CAST(sum(CASE WHEN nx.active_next IS NULL THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS churn_e6
         |FROM uw LEFT JOIN nx ON uw.user_id = nx.user_id AND uw.wk = nx.wk
         |GROUP BY uw.wk ORDER BY uw.wk""".stripMargin,

    // Sketch-accuracy replay: the shared LSH CTE chain (same planted
    // corpus, signatures, bands, candidates), per-pair signature match
    // count vs exact Jaccard, integer error table per agreement level.
    // S-curve replay: capped all-pairs probe, same shingle/signature
    // pipeline, three band splits, bucket-midpoint analytic curve.
    "q_lsh_scurve" -> {
      val c8 = (0 to 7).map(j => s"a.s$j = b.s$j").mkString(" OR ")
      val c4 = (0 to 3).map(j =>
        s"(a.s${2 * j} = b.s${2 * j} AND a.s${2 * j + 1} = b.s${2 * j + 1})")
        .mkString(" OR ")
      val c2 = Seq(0, 4).map(o => "(" + (0 to 3).map(i =>
        s"a.s${o + i} = b.s${o + i}").mkString(" AND ") + ")").mkString(" OR ")
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 40
         |  UNION ALL
         |  SELECT doc_id + 10000, replace(text, 'data', 'info')
         |  FROM documents WHERE doc_id % 5 = 0 AND doc_id < 40),
         |sh0 AS (SELECT doc_id, $hashedShinglesSql AS shingles
         |       FROM (SELECT doc_id, ${wordsSql("lower(text)")} AS w FROM base)),
         |sh AS (SELECT * FROM sh0 WHERE len(shingles) > 0),
         |hx AS (SELECT doc_id, unnest(shingles) AS h FROM sh),
         |sig AS (SELECT doc_id, $minhashSigSql FROM hx GROUP BY doc_id),
         |pairs AS (SELECT
         |    least(len(list_intersect(sa.shingles, sb.shingles)) * 1000000
         |      // len(list_distinct(list_concat(sa.shingles, sb.shingles)))
         |      // 100000, 9) AS bucket,
         |    CASE WHEN $c8 THEN 1 ELSE 0 END AS c_b8r1,
         |    CASE WHEN $c4 THEN 1 ELSE 0 END AS c_b4r2,
         |    CASE WHEN $c2 THEN 1 ELSE 0 END AS c_b2r4
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  JOIN sh sa ON a.doc_id = sa.doc_id
         |  JOIN sh sb ON b.doc_id = sb.doc_id),
         |cfg AS (
         |  SELECT bucket, 'b8r1' AS config, CAST(8 AS BIGINT) AS b,
         |    CAST(1 AS BIGINT) AS r, c_b8r1 AS coll FROM pairs
         |  UNION ALL SELECT bucket, 'b4r2', 4, 2, c_b4r2 FROM pairs
         |  UNION ALL SELECT bucket, 'b2r4', 2, 4, c_b2r4 FROM pairs)
         |SELECT config, b, r, bucket, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(coll) AS BIGINT) AS n_collide,
         |  CAST(sum(coll) * 1000000 // count(*) AS BIGINT) AS measured_e6,
         |  CAST(floor((1.0 - pow(1.0 - pow((bucket + 0.5) / 10.0, r), b))
         |    * 1000000.0 + 0.5) AS BIGINT) AS theory_e6
         |FROM cfg GROUP BY config, b, r, bucket
         |ORDER BY config, bucket""".stripMargin
    },

    // Consistent-hashing replay: 128-token sorted ring list (h*8+shard
    // encoding), per-key successor scan, shard-3 removal, minimal-
    // movement certificate.
    "q_consistent_hashing" ->
      s"""WITH ring AS (SELECT list_sort(list(
         |    ${hSql("'ring:' || CAST(id AS VARCHAR)")} * 8 + id % 8)) AS ring
         |  FROM (SELECT CAST(unnest(range(0, 128)) AS BIGINT) AS id)),
         |keys AS (SELECT c_custkey,
         |    ${hSql("'key:' || CAST(c_custkey AS VARCHAR)")} AS kh
         |  FROM customer),
         |asg AS (SELECT c_custkey,
         |    coalesce(list_filter(ring, e -> e // 8 >= kh)[1], ring[1]) % 8
         |      AS s1,
         |    coalesce(list_filter(list_filter(ring, e -> e % 8 != 3),
         |        e -> e // 8 >= kh)[1],
         |      list_filter(ring, e -> e % 8 != 3)[1]) % 8 AS s2
         |  FROM keys CROSS JOIN ring),
         |per AS (SELECT s1 AS shard, CAST(count(*) AS BIGINT) AS load_before,
         |    CAST(sum(CASE WHEN s2 = s1 THEN 1 ELSE 0 END) AS BIGINT) AS kept
         |  FROM asg GROUP BY 1),
         |aft AS (SELECT s2 AS shard, CAST(count(*) AS BIGINT) AS load_after
         |  FROM asg GROUP BY 1),
         |g AS (SELECT
         |    CAST(sum(CASE WHEN s1 <> s2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS moved_total,
         |    CAST(sum(CASE WHEN s1 <> 3 AND s1 <> s2 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS invalid_moves FROM asg),
         |bal AS (SELECT CAST(max(load_before) * 1000000 // min(load_before)
         |    AS BIGINT) AS balance_ratio_e6 FROM per)
         |SELECT per.shard, per.load_before,
         |  coalesce(aft.load_after, 0) AS load_after,
         |  coalesce(aft.load_after, 0) - per.kept AS gained,
         |  g.moved_total, g.invalid_moves, bal.balance_ratio_e6
         |FROM per LEFT JOIN aft USING (shard) CROSS JOIN g CROSS JOIN bal
         |ORDER BY per.shard""".stripMargin,

    // Prefix-cache replay: per-source lexicographic lag, token-level
    // common-prefix length via first-mismatch position.
    "q_prefix_cache" ->
      s"""WITH d AS (SELECT source, doc_id, text,
         |    ${wordsSql("lower(text)")} AS ws FROM documents),
         |w AS (SELECT source, ws, lag(ws) OVER (PARTITION BY source
         |    ORDER BY text, doc_id) AS pw FROM d),
         |p AS (SELECT source, len(ws) AS nt,
         |    CASE WHEN pw IS NULL THEN 0
         |      WHEN list_position(list_transform(
         |          range(greatest(len(ws), len(pw))),
         |          i -> CASE WHEN ws[i+1] IS NOT DISTINCT FROM pw[i+1]
         |            THEN 1 ELSE 0 END), 0) IS NULL
         |      THEN least(len(ws), len(pw))
         |      ELSE list_position(list_transform(
         |          range(greatest(len(ws), len(pw))),
         |          i -> CASE WHEN ws[i+1] IS NOT DISTINCT FROM pw[i+1]
         |            THEN 1 ELSE 0 END), 0) - 1 END AS plen
         |  FROM w)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS total_tokens,
         |  CAST(sum(plen) AS BIGINT) AS cached_tokens,
         |  CAST(sum(plen) * 1000000 // sum(nt) AS BIGINT) AS hit_rate_e6
         |FROM p GROUP BY source ORDER BY source""".stripMargin,

    "q_minhash_acc" ->
      s"""WITH $lshPairsCtes,
         |macc AS (
         |  SELECT cand.doc_a, cand.doc_b,
         |    (CASE WHEN a.s0 = b.s0 THEN 1 ELSE 0 END + CASE WHEN a.s1 = b.s1 THEN 1 ELSE 0 END
         |     + CASE WHEN a.s2 = b.s2 THEN 1 ELSE 0 END + CASE WHEN a.s3 = b.s3 THEN 1 ELSE 0 END
         |     + CASE WHEN a.s4 = b.s4 THEN 1 ELSE 0 END + CASE WHEN a.s5 = b.s5 THEN 1 ELSE 0 END
         |     + CASE WHEN a.s6 = b.s6 THEN 1 ELSE 0 END + CASE WHEN a.s7 = b.s7 THEN 1 ELSE 0 END) AS m,
         |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS i,
         |    CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS BIGINT) AS u
         |  FROM cand JOIN sig a ON cand.doc_a = a.doc_id
         |            JOIN sig b ON cand.doc_b = b.doc_id
         |            JOIN sh sa ON cand.doc_a = sa.doc_id
         |            JOIN sh sb ON cand.doc_b = sb.doc_id),
         |e AS (SELECT m, abs(m * u - 8 * i) * 1000000 // (8 * u) AS err_e6 FROM macc)
         |SELECT CAST(m AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(max(err_e6) AS BIGINT) AS max_err_e6,
         |  CAST(sum(err_e6) // count(*) AS BIGINT) AS avg_err_e6
         |FROM e GROUP BY m ORDER BY m""".stripMargin,

    // Containment over documents + planted aggregators: same shingle/
    // signature/band pipeline as q_minhash_lsh, asymmetric verify
    // (inter/|A|, inter/|B|), filter on the greater ROUNDED direction
    // (the Spark side rounds before filtering too).
    "q_containment" ->
      s"""WITH cbase AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT a.doc_id + 50000, a.text || ' ' || b.text
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id % 7 = 0),
         |csh AS (SELECT doc_id, $hashedShinglesSql AS shingles
         |       FROM (SELECT doc_id, ${wordsSql("lower(text)")} AS w FROM cbase)),
         |chx AS (SELECT doc_id, unnest(shingles) AS h FROM csh),
         |csig AS (SELECT doc_id, $minhashSigSql FROM chx GROUP BY doc_id),
         |cbands AS (SELECT doc_id, unnest([
         |    concat_ws(':', '0', s0, s1), concat_ws(':', '1', s2, s3),
         |    concat_ws(':', '2', s4, s5), concat_ws(':', '3', s6, s7)]) AS band FROM csig),
         |ccand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM cbands a JOIN cbands b ON a.band = b.band AND a.doc_id < b.doc_id),
         |cscored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS inter,
         |    len(sa.shingles) AS la, len(sb.shingles) AS lb
         |  FROM ccand JOIN csh sa ON ccand.doc_a = sa.doc_id
         |             JOIN csh sb ON ccand.doc_b = sb.doc_id)
         |SELECT doc_a, doc_b,
         |  round(inter / la, 6) AS cont_a_in_b,
         |  round(inter / lb, 6) AS cont_b_in_a
         |FROM cscored
         |WHERE greatest(round(inter / la, 6), round(inter / lb, 6)) >= 0.75
         |ORDER BY doc_a, doc_b""".stripMargin,

    // One-sided containment: megas = 8 consecutive docs concatenated
    // (string_agg ORDER BY doc_id == Spark's sorted-struct array_join);
    // probe side samples its 8 smallest shingle hashes, corpus side is
    // the full posting table (df-capped), hit floor least(2, |sample|),
    // exact verify on the full shingle sets — mirrors
    // Dedup.containmentVersusCorpus parameter-for-parameter.
    "q_containment_onesided" ->
      s"""WITH obase AS (SELECT doc_id, text FROM documents WHERE doc_id < 320),
         |omega AS (
         |  SELECT 80000 + doc_id // 8 AS doc_id,
         |    string_agg(text, ' ' ORDER BY doc_id) AS text
         |  FROM obase GROUP BY doc_id // 8),
         |opsh AS (SELECT doc_id, $hashedShinglesSql AS shingles
         |        FROM (SELECT doc_id, ${wordsSql("lower(text)")} AS w FROM obase)),
         |ocsh AS (SELECT doc_id, $hashedShinglesSql AS shingles
         |        FROM (SELECT doc_id, ${wordsSql("lower(text)")} AS w FROM omega)),
         |osamp AS (SELECT doc_id, list_sort(shingles)[1:8] AS sample FROM opsh),
         |oph AS (SELECT doc_id, len(sample) AS k_eff, unnest(sample) AS h FROM osamp),
         |opostall AS (SELECT doc_id AS corpus_id, unnest(shingles) AS h FROM ocsh),
         |opost AS (SELECT * FROM opostall WHERE h IN (
         |  SELECT h FROM opostall GROUP BY h HAVING count(*) <= 1000)),
         |ocand AS (
         |  SELECT oph.doc_id, opost.corpus_id, count(*) AS hits, min(k_eff) AS k_eff
         |  FROM oph JOIN opost ON oph.h = opost.h
         |  GROUP BY 1, 2 HAVING count(*) >= least(2, min(k_eff)))
         |SELECT c.doc_id, c.corpus_id,
         |  round(CAST(len(list_intersect(p.shingles, s.shingles)) AS DOUBLE)
         |    / len(p.shingles), 6) AS containment
         |FROM ocand c JOIN opsh p ON c.doc_id = p.doc_id
         |             JOIN ocsh s ON c.corpus_id = s.doc_id
         |WHERE round(CAST(len(list_intersect(p.shingles, s.shingles)) AS DOUBLE)
         |    / len(p.shingles), 6) >= 0.9
         |ORDER BY 1, 2""".stripMargin,

    // Winnowing replay: position-indexed tokens (LATERAL range — DuckDB
    // has no WITH ORDINALITY), lead()-built k-grams, 48-bit md5-fold
    // gram hashes, min-over-w-window fingerprints (integer min —
    // order-free), df cap, shared-count pairs. All-integer pipeline.
    "q_winnow" ->
      s"""WITH wbase AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 300
         |  UNION ALL
         |  SELECT a.doc_id + 70000,
         |    array_to_string(string_split_regex(trim(lower(a.text)), '\\s+')[11:40], ' ')
         |      || ' ' || b.text
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 3
         |  WHERE a.doc_id % 11 = 0 AND a.doc_id < 300 AND b.doc_id < 300
         |    AND len(string_split_regex(trim(lower(a.text)), '\\s+')) >= 40),
         |wtoks AS (SELECT doc_id, pos, ws[pos+1] AS tok, len(ws) AS ng FROM (
         |    SELECT doc_id, ${wordsSql("lower(text)")} AS ws FROM wbase) s,
         |    LATERAL (SELECT unnest(range(len(ws))) AS pos) p),
         |wgrams AS (SELECT doc_id, pos,
         |    tok || ' ' || lead(tok,1) OVER wo || ' ' || lead(tok,2) OVER wo AS gram, ng
         |  FROM wtoks WINDOW wo AS (PARTITION BY doc_id ORDER BY pos)),
         |wfull AS (SELECT doc_id, pos, ${hSql("gram")} AS h FROM wgrams WHERE pos <= ng - 3),
         |wfps AS (SELECT DISTINCT doc_id, fp FROM (
         |    SELECT doc_id, min(h) OVER ww AS fp, count(*) OVER ww AS nfull
         |    FROM wfull WINDOW ww AS (PARTITION BY doc_id ORDER BY pos
         |                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
         |  WHERE nfull = 4),
         |wrare AS (SELECT fp FROM wfps GROUP BY fp HAVING count(*) <= 20),
         |wkept AS (SELECT wfps.doc_id, wfps.fp FROM wfps JOIN wrare USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM wkept a JOIN wkept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 20
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Winnowing pairs + per-doc coverage: the q_winnow replay with a
    // per-doc total-fingerprint count CTE; coverage = shared rare fps /
    // ALL fps of the doc (Dedup.winnowPairsCoverage contract). Plants:
    // HOST docs (quote + full neighbor text) and PURE-QUOTE docs (the
    // slice alone) per eligible source.
    "q_winnow_coverage" ->
      s"""WITH vsrc AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
         |velig AS (SELECT a.doc_id AS aid,
         |    array_to_string(string_split_regex(trim(lower(a.text)), '\\s+')[11:40], ' ') AS quote,
         |    b.text AS btext
         |  FROM vsrc a JOIN vsrc b ON b.doc_id = a.doc_id + 3
         |  WHERE a.doc_id % 11 = 0
         |    AND len(string_split_regex(trim(lower(a.text)), '\\s+')) >= 40),
         |vbase AS (
         |  SELECT doc_id, text FROM vsrc
         |  UNION ALL
         |  SELECT aid + 70000, quote || ' ' || btext FROM velig
         |  UNION ALL
         |  SELECT aid + 80000, quote FROM velig),
         |${winnowFpsCtes("v", "vbase")},
         |vcnt AS (SELECT doc_id, count(*) AS nfp FROM vfps GROUP BY doc_id),
         |vrare AS (SELECT fp FROM vfps GROUP BY fp
         |          HAVING count(*) <= ${graft.ops.Curation.SpanMaxDocFreq}),
         |vkept AS (SELECT vfps.doc_id, vfps.fp FROM vfps JOIN vrare USING (fp)),
         |vpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |           FROM vkept a JOIN vkept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2 HAVING count(*) >= ${graft.ops.Curation.SpanMinShared})
         |SELECT doc_a, doc_b, n_shared,
         |  round(CAST(n_shared AS DOUBLE) / ca.nfp, 6) AS cov_a,
         |  round(CAST(n_shared AS DOUBLE) / cb.nfp, 6) AS cov_b
         |FROM vpairs JOIN vcnt ca ON vpairs.doc_a = ca.doc_id
         |            JOIN vcnt cb ON vpairs.doc_b = cb.doc_id
         |ORDER BY 1, 2""".stripMargin,

    // Duplicate-substring removal spans (Dedup.duplicateSpans k=8):
    // position-indexed 8-gram hashes, global first-occurrence rule via
    // min over the packed (doc_id·1e6 + pos) key, then the
    // q_interval_merge island pattern per doc. All-integer pipeline.
    "q_dedup_spans" ->
      s"""WITH $dupSpanCtes,
         |xdup AS (SELECT doc_id, pos, pos + 7 AS e FROM xh JOIN xfirst USING (h)
         |         WHERE key <> first_key),
         |xm AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM xdup),
         |xi AS (SELECT *, CAST(sum(CASE WHEN prev_max IS NULL OR pos > prev_max + 1
         |        THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT)
         |        AS island FROM xm)
         |SELECT doc_id, min(pos) AS span_start, max(e) AS span_end,
         |  max(e) - min(pos) + 1 AS span_tokens
         |FROM xi GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,

    // Incremental span dedup (Dedup.duplicateSpansVersusCorpus): corpus
    // grams distilled to a gram-first index; a batch gram is duplicated
    // if it exists in the corpus at all OR occurred earlier within the
    // batch (its own packed-key minimum). Only batch docs emit spans.
    "q_dedup_spans_incr" ->
      s"""WITH ibase AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
         |${gram8Ctes("i", "ibase")},
         |ifirst AS (SELECT h, min(key) AS first_key FROM ih GROUP BY h),
         |ybase AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id >= 200 AND doc_id < 300
         |  UNION ALL
         |  SELECT a.doc_id + 60000,
         |    array_to_string(string_split_regex(trim(lower(a.text)), '\\s+')[11:40], ' ') || ' ' || b.text AS text
         |  FROM ibase a JOIN ibase b ON b.doc_id = a.doc_id + 3
         |  WHERE a.doc_id % 11 = 0
         |    AND len(string_split_regex(trim(lower(a.text)), '\\s+')) >= 40
         |  UNION ALL
         |  SELECT doc_id + 70000, text FROM documents
         |  WHERE doc_id >= 200 AND doc_id < 300 AND doc_id % 17 = 0),
         |${gram8Ctes("y", "ybase")},
         |ybf AS (SELECT h, min(key) AS batch_first FROM yh GROUP BY h),
         |ydup AS (SELECT yh.doc_id, yh.pos, yh.pos + 7 AS e
         |  FROM yh JOIN ybf USING (h) LEFT JOIN ifirst USING (h)
         |  WHERE ifirst.first_key IS NOT NULL OR yh.key <> ybf.batch_first),
         |ym AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM ydup),
         |yi AS (SELECT *, CAST(sum(CASE WHEN prev_max IS NULL OR pos > prev_max + 1
         |        THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT)
         |        AS island FROM ym)
         |SELECT doc_id, min(pos) AS span_start, max(e) AS span_end,
         |  max(e) - min(pos) + 1 AS span_tokens
         |FROM yi GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,

    // Cleaned-corpus rebuild (Dedup.stripDuplicateSpans): token kept iff
    // the running max of (dup-start + 7) stays below it; kept tokens
    // re-joined in position order, compared by md5.
    "q_dedup_strip" ->
      s"""WITH $dupSpanCtes,
         |xmark AS (SELECT doc_id, pos FROM xh JOIN xfirst USING (h)
         |          WHERE key <> first_key),
         |xj AS (SELECT t.doc_id, t.pos, t.tok,
         |    CASE WHEN m.pos IS NOT NULL THEN t.pos + 7 END AS de
         |  FROM xtoks t LEFT JOIN xmark m ON t.doc_id = m.doc_id AND t.pos = m.pos),
         |xr AS (SELECT *, max(de) OVER (PARTITION BY doc_id ORDER BY pos) AS run_end
         |       FROM xj)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN run_end IS NULL OR pos > run_end THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept,
         |  md5(coalesce(string_agg(tok, ' ' ORDER BY pos)
         |    FILTER (WHERE run_end IS NULL OR pos > run_end), '')) AS clean_md5
         |FROM xr GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // Same winnowing replay over the PLAIN corpus (no plants), then the
    // decontaminate aggregation shape: bench fingerprints vs the rest.
    "q_decontaminate_spans" ->
      s"""WITH dtoks AS (SELECT doc_id, pos, ws[pos+1] AS tok, len(ws) AS ng FROM (
         |    SELECT doc_id, ${wordsSql("lower(text)")} AS ws FROM documents) s,
         |    LATERAL (SELECT unnest(range(len(ws))) AS pos) p),
         |dgrams AS (SELECT doc_id, pos,
         |    tok || ' ' || lead(tok,1) OVER wo || ' ' || lead(tok,2) OVER wo AS gram, ng
         |  FROM dtoks WINDOW wo AS (PARTITION BY doc_id ORDER BY pos)),
         |dfull AS (SELECT doc_id, pos, ${hSql("gram")} AS h FROM dgrams WHERE pos <= ng - 3),
         |dfps AS (SELECT DISTINCT doc_id, fp FROM (
         |    SELECT doc_id, min(h) OVER ww AS fp, count(*) OVER ww AS nfull
         |    FROM dfull WINDOW ww AS (PARTITION BY doc_id ORDER BY pos
         |                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
         |  WHERE nfull = 4),
         |bfps AS (SELECT DISTINCT fp FROM dfps WHERE doc_id % 97 = 0)
         |SELECT d.doc_id, count(*) AS n_fps,
         |  CAST(sum(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
         |  sum(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END) >= 3 AS span_contaminated
         |FROM dfps d LEFT JOIN bfps b ON d.fp = b.fp
         |WHERE d.doc_id % 97 <> 0
         |GROUP BY d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // alpha=0.5 temperature smoothing is an exact sqrt — portable;
    // group sums of ~1e5-magnitude ints feed a ~|groups|-row window.
    "q_mixture_weights" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(sqrt(CAST(sum(n_chars) AS DOUBLE))
        |    / sum(sqrt(CAST(sum(n_chars) AS DOUBLE))) OVER (), 6) AS mix_weight
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    // Transitive closure of the verified near-dup pairs: min reachable
    // doc_id per node via recursive CTE == the min-label-propagation
    // fixpoint of Dedup.connectedComponents.
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $lshClusterCtes
         |SELECT node AS doc_id, min(m) AS cluster_id
         |FROM cc GROUP BY node ORDER BY doc_id""".stripMargin,

    // Inter-arrival replay: per-user purchase lag, hour-bucket
    // support, cumulative CDF share.
    "q_interarrival" ->
      s"""WITH p AS (
         |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events WHERE event_type = 'purchase'),
         |g AS (
         |  SELECT (us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id))
         |    // 3600000000 AS gap_h
         |  FROM p
         |  QUALIFY lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NOT NULL),
         |pv AS (SELECT gap_h, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY gap_h),
         |c AS (SELECT gap_h, n, sum(n) OVER (ORDER BY gap_h) AS cum FROM pv),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM pv)
         |SELECT CAST(gap_h AS BIGINT) AS gap_h, n, CAST(cum AS BIGINT) AS cum,
         |  CAST(cum * 1000000 // tot AS BIGINT) AS cdf_e6
         |FROM c CROSS JOIN t ORDER BY gap_h""".stripMargin,

    // Threshold-sweep replay: conditional sums over the one scored
    // pair table.
    "q_threshold_sweep" ->
      s"""WITH $lshPairsCtes
         |SELECT CAST(count(*) AS BIGINT) AS n_05,
         |  CAST(sum(CASE WHEN jaccard >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_06,
         |  CAST(sum(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_07,
         |  CAST(sum(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_08,
         |  CAST(sum(CASE WHEN jaccard >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_09,
         |  CAST(sum(CASE WHEN jaccard >= 0.999999 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
         |FROM scored WHERE jaccard >= 0.5""".stripMargin,

    // Dup-provenance replay: the shared LSH pair chain, planted ids
    // folded back to their original's source, unordered pair rollup.
    "q_dup_sources" ->
      s"""WITH $lshPairsCtes,
         |pp AS (
         |  SELECT CASE WHEN doc_a >= 10000 THEN doc_a - 10000 ELSE doc_a END AS doc_a,
         |         CASE WHEN doc_b >= 10000 THEN doc_b - 10000 ELSE doc_b END AS doc_b
         |  FROM scored WHERE jaccard >= 0.5),
         |j AS (
         |  SELECT least(sa.source, sb.source) AS source_lo,
         |         greatest(sa.source, sb.source) AS source_hi
         |  FROM pp JOIN documents sa ON pp.doc_a = sa.doc_id
         |          JOIN documents sb ON pp.doc_b = sb.doc_id)
         |SELECT source_lo, source_hi, CAST(count(*) AS BIGINT) AS n_pairs,
         |  source_lo = source_hi AS within_source
         |FROM j GROUP BY source_lo, source_hi
         |ORDER BY source_lo, source_hi""".stripMargin,

    // PIT-lookup replay: change rows ∪ probes, one carried
    // last_value IGNORE NULLS per user in (t, kind, state) order.
    "q_pit_lookup" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events),
         |ch AS (
         |  SELECT user_id, us AS t, 0 AS kind, event_type AS state,
         |    CAST(NULL AS BIGINT) AS probe_id
         |  FROM (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_type FROM e)
         |  WHERE prev_type IS NULL OR event_type <> prev_type),
         |pr AS (
         |  SELECT user_id, us + 1 AS t, 1 AS kind, CAST(NULL AS VARCHAR) AS state,
         |    event_id AS probe_id
         |  FROM e WHERE event_id % 7 = 0),
         |u AS (SELECT * FROM ch UNION ALL SELECT * FROM pr),
         |c AS (
         |  SELECT user_id, probe_id, t, kind,
         |    last_value(state IGNORE NULLS) OVER (
         |      PARTITION BY user_id ORDER BY t, kind, state
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at_state
         |  FROM u)
         |SELECT user_id, probe_id, t AS t_us, at_state
         |FROM c WHERE kind = 1
         |ORDER BY user_id, t_us, probe_id""".stripMargin,

    // Cluster-size-histogram replay: CC recursion, per-cluster sizes,
    // count-of-counts with the descending docs-in-families tail.
    "q_cluster_sizes" ->
      s"""WITH RECURSIVE $lshClusterCtes,
         |lab AS (SELECT node AS doc_id, min(m) AS cluster_id FROM cc GROUP BY node),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz FROM lab GROUP BY cluster_id),
         |pv AS (SELECT sz, CAST(count(*) AS BIGINT) AS n_families FROM sz GROUP BY sz)
         |SELECT sz, n_families,
         |  CAST(sum(sz * n_families) OVER (ORDER BY sz DESC) AS BIGINT) AS docs_in_ge
         |FROM pv ORDER BY sz""".stripMargin,

    // Session-conversion replay: identical island rule (second floor,
    // 1800 s gap, (sec, event_id) order), purchase flag, day rollup.
    "q_session_conversion" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec
         |  FROM events),
         |m AS (
         |  SELECT *, lag(sec) OVER w AS prev,
         |    CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
         |         THEN 1 ELSE 0 END AS new_s
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
         |s AS (
         |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS sid
         |  FROM m),
         |sess AS (
         |  SELECT user_id, sid, min(sec) AS start_sec,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
         |  FROM s GROUP BY user_id, sid)
         |SELECT start_sec // 86400 AS day, CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(converted) AS BIGINT) AS n_converted,
         |  CAST(sum(converted) * 1000000 // count(*) AS BIGINT) AS conv_e6
         |FROM sess GROUP BY 1 ORDER BY day""".stripMargin,

    // Concentration replay: count-of-counts support, descending
    // cumulative users/events, integral shares.
    "q_user_concentration" ->
      s"""WITH pu AS (SELECT user_id, count(*) AS k FROM events GROUP BY user_id),
         |pv AS (SELECT k, CAST(count(*) AS BIGINT) AS n_users FROM pu GROUP BY k),
         |c AS (
         |  SELECT k, n_users,
         |    sum(n_users) OVER (ORDER BY k DESC) AS cum_users,
         |    sum(n_users * k) OVER (ORDER BY k DESC) AS cum_events
         |  FROM pv),
         |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS tu,
         |        CAST(sum(n_users * k) AS BIGINT) AS te FROM pv)
         |SELECT CAST(k AS BIGINT) AS k, n_users,
         |  CAST(cum_users AS BIGINT) AS cum_users,
         |  CAST(cum_events AS BIGINT) AS cum_events,
         |  CAST(cum_users * 1000000 // tu AS BIGINT) AS user_share_e6,
         |  CAST(cum_events * 1000000 // te AS BIGINT) AS event_share_e6
         |FROM c CROSS JOIN t ORDER BY k DESC""".stripMargin,

    // WoW replay: weekly counts, lag over the (type, week) aggregate,
    // null first weeks.
    "q_wow_growth" ->
      s"""WITH wkly AS (
         |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |l AS (
         |  SELECT event_type, wk, n,
         |    lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev_n
         |  FROM wkly)
         |SELECT event_type, wk, n, prev_n,
         |  CAST((n - prev_n) * 1000000 // prev_n AS BIGINT) AS growth_e6
         |FROM l ORDER BY event_type, wk""".stripMargin,

    // Diversity replay: per-(source,lang) counts, integer collision
    // probability, 1e6 complement.
    "q_diversity" ->
      s"""WITH c AS (SELECT source, lang, count(*) AS n
         |           FROM documents GROUP BY source, lang),
         |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
         |        CAST(count(*) AS BIGINT) AS n_langs,
         |        CAST(sum(n * (n - 1)) AS BIGINT) AS coll
         |      FROM c GROUP BY source)
         |SELECT source, n_docs, n_langs,
         |  CAST(1000000 - coll * 1000000 // (n_docs * (n_docs - 1)) AS BIGINT)
         |    AS gini_simpson_e6
         |FROM s WHERE n_docs > 1 ORDER BY source""".stripMargin,

    // Coverage-curve replay: type counts, (count desc, token) rank,
    // three conditional sums, integral fractions.
    "q_vocab_coverage" ->
      s"""WITH t AS (
         |  SELECT tok, count(*) AS c FROM (
         |    SELECT unnest(${wordsSql("lower(text)")}) AS tok FROM documents)
         |  GROUP BY tok),
         |r AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS r FROM t)
         |SELECT CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(c) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN r <= 100 THEN c ELSE 0 END) * 1000000 // sum(c) AS BIGINT) AS coverage_100_e6,
         |  CAST(sum(CASE WHEN r <= 1000 THEN c ELSE 0 END) * 1000000 // sum(c) AS BIGINT) AS coverage_1k_e6,
         |  CAST(sum(CASE WHEN r <= 10000 THEN c ELSE 0 END) * 1000000 // sum(c) AS BIGINT) AS coverage_10k_e6
         |FROM r""".stripMargin,

    // Banding-recall replay: planted-truth pairs by direct id join,
    // semi against the band-join survivors, per-bucket recall.
    "q_dedup_recall" ->
      s"""WITH $lshPairsCtes,
         |ta AS (SELECT doc_id AS doc_a, shingles AS sh_a FROM sh
         |       WHERE doc_id % 5 = 0 AND doc_id < 10000),
         |tb AS (SELECT doc_id - 10000 AS doc_a, doc_id AS doc_b, shingles AS sh_b
         |       FROM sh WHERE doc_id >= 10000),
         |truth AS (
         |  SELECT ta.doc_a, doc_b,
         |    CAST(floor(round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sh_a, sh_b))), 6) * 10) AS BIGINT) AS bucket,
         |    round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sh_a, sh_b))), 6) AS jaccard
         |  FROM ta JOIN tb ON ta.doc_a = tb.doc_a),
         |f AS (SELECT doc_a, doc_b, 1 AS hit FROM scored WHERE jaccard >= 0.5)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(sum(coalesce(hit, 0)) AS BIGINT) AS n_found,
         |  CAST(sum(coalesce(hit, 0)) * 1000000 // count(*) AS BIGINT) AS recall_e6
         |FROM truth LEFT JOIN f USING (doc_a, doc_b)
         |WHERE truth.jaccard >= 0.5
         |GROUP BY bucket ORDER BY bucket""".stripMargin,

    // Canonical-keeper replay: CC labels (the q_dedup_clusters
    // recursion) + distinct-token quality, argmax by (quality desc,
    // doc_id) via row_number.
    "q_canonical_keeper" ->
      s"""WITH RECURSIVE $lshClusterCtes,
         |lab AS (SELECT node AS doc_id, min(m) AS cluster_id FROM cc GROUP BY node),
         |qual AS (
         |  SELECT doc_id,
         |    CAST(len(list_distinct(w)) * 1000000 // len(w) AS BIGINT) AS q_e6
         |  FROM (SELECT doc_id, ${wordsSql("text")} AS w FROM base)
         |  WHERE len(w) > 0),
         |m AS (
         |  SELECT cluster_id, doc_id, q_e6,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY q_e6 DESC, doc_id) AS rn
         |  FROM lab JOIN qual USING (doc_id))
         |SELECT cluster_id, doc_id AS keeper_id,
         |  CAST(n_members AS BIGINT) AS n_members, q_e6 AS keeper_q_e6
         |FROM m WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    // Budget-cut replay: proportional integral allocation, greedy
    // quality-order admission with the no-overflow rule.
    "q_budget_cut" ->
      s"""WITH t AS (
         |  SELECT lang, doc_id, CAST(len(w) AS BIGINT) AS t,
         |    CAST(len(list_distinct(w)) * 1000000 // len(w) AS BIGINT) AS q_e6
         |  FROM (SELECT lang, doc_id, ${wordsSql("text")} AS w FROM documents)
         |  WHERE len(w) > 0),
         |bl AS (SELECT lang, CAST(sum(t) AS BIGINT) AS gt,
         |         CAST(count(*) AS BIGINT) AS n_docs_total FROM t GROUP BY lang),
         |tt AS (SELECT CAST(sum(gt) AS BIGINT) AS tt FROM bl),
         |al AS (SELECT lang, n_docs_total,
         |         CAST(20000 * gt // tt AS BIGINT) AS alloc_tokens
         |       FROM bl CROSS JOIN tt),
         |c AS (
         |  SELECT lang, doc_id, t,
         |    coalesce(sum(t) OVER (PARTITION BY lang ORDER BY q_e6 DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM t)
         |SELECT c.lang, alloc_tokens, n_docs_total,
         |  CAST(count(*) AS BIGINT) AS n_docs_kept,
         |  CAST(sum(t) AS BIGINT) AS tokens_kept
         |FROM c JOIN al ON c.lang = al.lang
         |WHERE cum_before + t <= alloc_tokens
         |GROUP BY c.lang, alloc_tokens, n_docs_total ORDER BY c.lang""".stripMargin,

    // Leakage-safe split: CC labels over the LSH pairs (the
    // q_dedup_clusters recursion), singletons self-represent, and the
    // curation split hash runs on the REPRESENTATIVE — near-dups can
    // never straddle train/val.
    "q_cluster_split" ->
      s"""WITH RECURSIVE $lshClusterCtes,
         |lab AS (SELECT node AS doc_id, min(m) AS cluster_id FROM cc GROUP BY node),
         |wrep AS (SELECT b.doc_id, coalesce(l.cluster_id, b.doc_id) AS rep
         |         FROM base b LEFT JOIN lab l USING (doc_id)),
         |sd AS (SELECT doc_id, rep,
         |         ${hSql("concat('split:', CAST(rep AS VARCHAR))")} % 100 AS b FROM wrep)
         |SELECT doc_id, rep,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM sd ORDER BY doc_id""".stripMargin,

    // Incremental ingest dedup: new batch LSH-matched against the
    // static corpus — Dedup.newVersusCorpus with the summary aggregation
    // of Queries.dedupIncremental.
    "q_dedup_incremental" ->
      s"""WITH newbatch AS (
         |  SELECT doc_id + 30000 AS doc_id, replace(text, 'data', 'info') AS text
         |  FROM documents WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 40000, translate(lower(text), 'aeiou', '01234')
         |  FROM documents WHERE doc_id % 7 = 3),
         |${lshSideCtes("n", "newbatch")},
         |${lshSideCtes("c", "documents")},
         |cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
         |         FROM bandn n JOIN bandc c ON n.band = c.band),
         |m AS (SELECT * FROM (
         |  SELECT new_id, corpus_id,
         |    round(CAST(len(list_intersect(sn.shingles, sc.shingles)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sn.shingles, sc.shingles))), 6) AS jaccard
         |  FROM cand JOIN shn sn ON cand.new_id = sn.doc_id
         |            JOIN shc sc ON cand.corpus_id = sc.doc_id)
         |  WHERE jaccard >= 0.5)
         |SELECT nb.doc_id AS new_id, count(m.corpus_id) AS n_matches,
         |  round(coalesce(max(m.jaccard), 0.0), 6) AS max_jacc,
         |  min(m.corpus_id) AS first_match
         |FROM newbatch nb LEFT JOIN m ON m.new_id = nb.doc_id
         |GROUP BY nb.doc_id ORDER BY new_id""".stripMargin,

    // Bloom pre-filter affects WORK, not output: the oracle is the
    // exact md5 left join the operator's verify stage guarantees.
    "q_dedup_bloom" ->
      """WITH batch AS (
        |  SELECT doc_id + 50000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id + 60000, text || ' xyzzy' FROM documents WHERE doc_id % 11 = 5),
        |ck AS (SELECT md5(text) AS k, min(doc_id) AS corpus_id
        |       FROM documents GROUP BY md5(text))
        |SELECT b.doc_id AS new_id, ck.corpus_id
        |FROM batch b LEFT JOIN ck ON md5(b.text) = ck.k
        |ORDER BY new_id""".stripMargin,

    "q_weighted_sample" ->
      s"""SELECT lang, count(*) AS n_kept FROM documents
         |WHERE (${hSql("'samp:' || CAST(doc_id AS VARCHAR)")} % 1000000) / 1000000.0
         |      < CASE WHEN lang = 'en' THEN 0.2 ELSE 0.8 END
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_group_cap" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY (${hSql("'cap:' || CAST(doc_id AS VARCHAR)")} % 1000000) / 1000000.0, doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= 20 ORDER BY doc_id""".stripMargin,

    // Balance-to-smallest: data-derived per-stratum rates with the
    // EXACT-INTEGER keep rule (bucket * n_key < min_n * 1000000) — no
    // float rate on any boundary.
    "q_rebalance" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_orig FROM documents GROUP BY lang),
         |m AS (SELECT min(n_orig) AS min_n FROM c),
         |kept AS (SELECT d.lang FROM documents d JOIN c USING (lang) CROSS JOIN m
         |         WHERE (${hSql("'bal:' || CAST(doc_id AS VARCHAR)")} % 1000000) * n_orig
         |               < min_n * 1000000),
         |kc AS (SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang)
         |SELECT c.lang, c.n_orig, coalesce(kc.n_kept, 0) AS n_kept
         |FROM c LEFT JOIN kc USING (lang) ORDER BY c.lang""".stripMargin,

    // Epoch upsample: whole copies = max_n // n_key (exact integer
    // division), fractional copy via the same exact-integer hash rule
    // as q_rebalance — identical (doc_id, copy) multiset both engines.
    "q_epoch_upsample" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_key FROM documents GROUP BY lang),
         |m AS (SELECT max(n_key) AS max_n FROM c),
         |d AS (SELECT doc_id, dd.lang,
         |        (max_n // n_key)
         |        + CASE WHEN (${hSql("'ups:' || CAST(doc_id AS VARCHAR)")} % 1000000) * n_key
         |               < (max_n % n_key) * 1000000 THEN 1 ELSE 0 END AS n_copies
         |      FROM documents dd JOIN c USING (lang) CROSS JOIN m)
         |SELECT doc_id, lang, copy
         |FROM (SELECT doc_id, lang, unnest(range(n_copies)) AS copy FROM d)
         |ORDER BY doc_id, copy""".stripMargin,

    // Temperature α=1/2: the sqrt keep rate evaluated WITHOUT a float
    // root — bucket²·n < min_n·B² in BIGINTs (B = 1e5).
    "q_temperature_sample" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_orig FROM documents GROUP BY lang),
         |m AS (SELECT min(n_orig) AS min_n FROM c),
         |kept AS (SELECT d.lang FROM documents d JOIN c USING (lang) CROSS JOIN m
         |         WHERE (${hSql("'temp:' || CAST(doc_id AS VARCHAR)")} % 100000)
         |               * (${hSql("'temp:' || CAST(doc_id AS VARCHAR)")} % 100000)
         |               * n_orig < min_n * 100000 * 100000),
         |kc AS (SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang)
         |SELECT c.lang, c.n_orig, coalesce(kc.n_kept, 0) AS n_kept
         |FROM c LEFT JOIN kc USING (lang) ORDER BY c.lang""".stripMargin,

    // Token-budget prefix: exact BIGINT running sum over the total
    // (hash, id) order; keep while cum <= 1500.
    "q_token_budget" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |        CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tok FROM documents),
         |r AS (SELECT doc_id, lang, n_tok,
         |        sum(n_tok) OVER (PARTITION BY lang
         |          ORDER BY (${hSql("'tok:' || CAST(doc_id AS VARCHAR)")} % 1000000) / 1000000.0,
         |            doc_id) AS cum
         |      FROM t)
         |SELECT doc_id, lang, n_tok FROM r WHERE cum <= 1500 ORDER BY doc_id""".stripMargin,

    "q_simhash" ->
      s"""WITH t AS (SELECT doc_id, list_transform(list_distinct(${wordsSql("lower(text)")}), wd -> ${hSql("wd")}) AS hs FROM documents)
         |SELECT doc_id, CAST($simhashSql AS BIGINT) AS simhash
         |FROM t ORDER BY doc_id""".stripMargin,

    "q_simhash_pairs" -> simhashPairsOracle,

    // The blocked (nibble-banded) scale path must reproduce the
    // brute-force pair list EXACTLY (pigeonhole recall) — same oracle.
    "q_simhash_blocked" -> simhashPairsOracle,

    "q_knn_cosine" ->
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |e AS (SELECT vec_id, ${normSql("v")} AS v FROM e0),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, ${dotSql("q.v", "c.v")} AS cs
         |  FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 10) q
         |  WHERE c.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, rnk, round(cs, 6) AS cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    // Embedding decontamination replay: normalized eval probe set,
    // per-train-vector max-cosine argmax by struct, planted nudged
    // copies, 0.95 flag threshold (wide-margin raw-double comparison,
    // the q_embed_neardup precedent).
    "q_decontaminate_embed" ->
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ev AS (SELECT vec_id, v FROM e0 WHERE vec_id < 10),
         |tr AS (SELECT vec_id, v FROM e0 WHERE vec_id >= 10
         |  UNION ALL
         |  SELECT vec_id + 20000,
         |    list_transform(range(len(v)), i -> CASE WHEN i = 0 THEN v[1] + 0.01 ELSE v[i+1] END)
         |  FROM ev),
         |trn AS (SELECT vec_id, ${normSql("v")} AS v FROM tr),
         |evn AS (SELECT vec_id AS eval_id, ${normSql("v")} AS q FROM ev),
         |scored AS (SELECT t.vec_id,
         |    struct_pack(c := ${dotSql("t.v", "e.q")}, nid := -e.eval_id) AS s
         |  FROM trn t CROSS JOIN evn e),
         |best AS (SELECT vec_id, max(s) AS m FROM scored GROUP BY vec_id),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_train,
         |    CAST(sum(CASE WHEN m.c >= 0.95 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_flagged FROM best)
         |SELECT vec_id, CAST(-m.nid AS BIGINT) AS eval_id,
         |  round(m.c, 6) AS cos_sim, n_train, n_flagged
         |FROM best CROSS JOIN tot WHERE m.c >= 0.95 ORDER BY vec_id""".stripMargin,

    "q_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |raw AS (
         |  SELECT * FROM e
         |  UNION ALL
         |  SELECT vec_id + 10000, label,
         |    list_transform(range(len(v)), i -> CASE WHEN i = 0 THEN v[1] + 0.01 ELSE v[i+1] END)
         |  FROM e WHERE vec_id % 5 = 0),
         |base AS (SELECT vec_id, label, ${normSql("v")} AS v FROM raw)
         |SELECT vec_a, vec_b, round(cs, 6) AS cos_sim FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${dotSql("a.v", "b.v")} AS cs
         |  FROM base a JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id)
         |WHERE cs >= 0.99
         |ORDER BY vec_a, vec_b""".stripMargin,
    "q_parse_fields" ->
      """SELECT
        |  event_id,
        |  CASE WHEN event_id % 97 = 0 THEN NULL ELSE concat('10.', user_id % 250, '.', (user_id * 7) % 250, '.', 1 + (user_id * 13) % 250) END AS client_ip,
        |  CASE WHEN event_id % 97 = 0 THEN NULL ELSE '-' END AS client_identity,
        |  CASE WHEN event_id % 97 = 0 THEN NULL ELSE '-' END AS remote_user,
        |  CASE WHEN event_id % 97 = 0 THEN NULL ELSE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') END AS access_date,
        |  CASE WHEN event_id % 97 = 0 OR event_id % 89 = 0 THEN NULL WHEN event_type = 'purchase' THEN 'POST' ELSE 'GET' END AS method,
        |  CASE WHEN event_id % 97 = 0 OR event_id % 89 = 0 THEN NULL
        |       WHEN event_type = 'view' THEN concat('/forum.php?mod=viewthread&tid=', 1 + event_id % 40, '&extra=page%3D1')
        |       WHEN event_type = 'purchase' THEN concat('/forum.php?mod=viewthread&tid=', 1 + event_id % 40, '&from=fav')
        |       WHEN event_type = 'click' THEN concat('/forum.php?mod=forumdisplay&fid=', 1 + event_id % 15)
        |       WHEN event_type = 'signup' THEN '/member.php?mod=register'
        |       ELSE concat('/forum.php?mod=ajax&action=checknew&fid=', 1 + event_id % 15) END AS uri,
        |  CASE WHEN event_id % 97 = 0 OR event_id % 89 = 0 THEN NULL ELSE 'HTTP/1.1' END AS proto,
        |  CASE WHEN event_id % 97 = 0 THEN NULL WHEN event_id % 89 = 0 THEN '408' WHEN event_id % 10 = 0 THEN '404' WHEN event_id % 7 = 3 THEN '500' ELSE '200' END AS http_status,
        |  CASE WHEN event_id % 97 = 0 OR event_id % 89 = 0 OR event_id % 13 = 0 THEN NULL ELSE 200 + event_id % 9000 END AS bytes,
        |  CASE WHEN event_id % 97 = 0 THEN NULL WHEN event_id % 3 = 0 THEN '-' ELSE concat('http://kms-4/forum.php?mod=forumdisplay&fid=', 1 + event_id % 15) END AS referer,
        |  CASE WHEN event_id % 97 = 0 THEN NULL ELSE concat('Mozilla/5.0 (compatible; GraftBot/', user_id % 5, '.0)') END AS user_agent,
        |  CASE WHEN event_id % 97 = 0 THEN NULL WHEN event_id % 89 = 0 THEN 0 WHEN event_type = 'click' THEN 1 + event_id % 15 ELSE 0 END AS section_id,
        |  CASE WHEN event_id % 97 = 0 THEN NULL WHEN event_id % 89 = 0 THEN 0 WHEN event_type IN ('view', 'purchase') THEN 1 + event_id % 40 ELSE 0 END AS article_id
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q_hot_section" -> (logsCte +
      """
        |SELECT l.section_id AS section_id, n.n_name AS name, count(*) AS section_pv
        |FROM logs l JOIN nation n ON l.section_id = n.n_nationkey
        |WHERE l.section_id <> 0
        |GROUP BY 1, 2
        |ORDER BY section_pv DESC, section_id
        |LIMIT 10""".stripMargin),

    "q_hot_article" -> (logsCte +
      """
        |SELECT l.article_id AS article_id, p.p_name AS subject, count(*) AS article_pv
        |FROM logs l JOIN part p ON l.article_id = p.p_partkey
        |WHERE l.article_id <> 0
        |GROUP BY 1, 2
        |ORDER BY article_pv DESC, article_id
        |LIMIT 10""".stripMargin),

    "q_client_ip" -> (logsCte +
      """
        |SELECT client_ip, count(*) AS client_access_cnt
        |FROM logs
        |WHERE article_id <> 0 OR section_id <> 0
        |GROUP BY 1
        |ORDER BY client_access_cnt DESC, client_ip""".stripMargin),

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_charge,
        |  floor((sum(round(l_quantity * 100)) / count(*)) * 100.0 + 0.5) / 10000.0 AS avg_qty,
        |  floor((sum(round(l_extendedprice * 100)) / count(*)) * 100.0 + 0.5) / 10000.0 AS avg_price,
        |  floor((sum(round(l_discount * 100)) / count(*)) * 100.0 + 0.5) / 10000.0 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // Incremental-agg oracle is the DIRECT full aggregation: the hash
    // match IS the proof that merging per-partition partial states
    // reproduces a single-pass aggregate exactly (integer-cents sums).
    "q_incr_agg" ->
      """WITH o AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders)
        |SELECT o_orderpriority, count(*) AS cnt,
        |  CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100.0 AS sum_price,
        |  CAST(min(c) AS DOUBLE) / 100.0 AS min_price,
        |  CAST(max(c) AS DOUBLE) / 100.0 AS max_price,
        |  floor((CAST(sum(c) AS BIGINT) / count(*)) + 0.5) / 100.0 AS avg_price
        |FROM o GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // Zone-map replay: month shards, micro-epoch min/max, intersect
    // rule against the same literal range the Spark query pins.
    "q_zone_map" ->
      """WITH z AS (SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT) AS shard,
        |    count(*) AS n_rows,
        |    min(epoch_us(CAST(l_shipdate AS TIMESTAMP))) AS min_v,
        |    max(epoch_us(CAST(l_shipdate AS TIMESTAMP))) AS max_v
        |  FROM lineitem GROUP BY 1)
        |SELECT shard, n_rows, min_v, max_v,
        |  (max_v >= 828316800000000 AND min_v <= 836179199999999) AS kept
        |FROM z ORDER BY shard""".stripMargin,

    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity > 45 AND l_discount > 0.07
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q_join_shuffle" ->
      """SELECT o_orderpriority, count(*) AS line_count, round(sum(l_extendedprice), 2) AS total_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // Bloom prune is semantically transparent (fp-only + exact join),
    // so the oracle is the PLAIN join over the same selective slice.
    "q_bloom_join" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // CDC replay: same change feed, latest-wins by seq (unique per key
    // by construction, so row_number-by-seq == Spark's seq-led struct
    // max), full-join merge, delete filter, per-segment aggregate.
    "q_cdc_apply" ->
      """WITH ch AS (
        |  SELECT c_custkey, 1 AS seq, 'U' AS op, c_name, c_nationkey,
        |    c_acctbal + 100.0 AS c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, 2, 'D', c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 11 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 1, 'I',
        |    'new_' || CAST(c_custkey + 1000000 AS VARCHAR), c_nationkey, 10.0, 'NEWSEG'
        |  FROM customer WHERE c_custkey % 13 = 0),
        |latest AS (SELECT c_custkey, op, c_acctbal, c_mktsegment FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1),
        |merged AS (
        |  SELECT coalesce(l.c_custkey, s.c_custkey) AS c_custkey,
        |    CASE WHEN l.op IS NOT NULL THEN l.c_acctbal ELSE s.c_acctbal END AS c_acctbal,
        |    CASE WHEN l.op IS NOT NULL THEN l.c_mktsegment ELSE s.c_mktsegment END AS c_mktsegment
        |  FROM customer s FULL JOIN latest l ON s.c_custkey = l.c_custkey
        |  WHERE NOT coalesce(l.op = 'D', FALSE))
        |SELECT c_mktsegment, count(*) AS n_rows,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_bal,
        |  CAST(sum(CASE WHEN c_custkey > 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
        |FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    // Null-safe equi-join: IS NOT DISTINCT FROM == Spark <=>; the null
    // group must join (n_joined = n_grp for every group incl. NULL).
    "q_nullsafe_join" ->
      """WITH a AS (SELECT c_custkey, nullif(c_nationkey, 5) AS k FROM customer),
        |b AS (SELECT k AS bk, count(*) AS n_grp FROM a GROUP BY k)
        |SELECT CAST(b.bk AS BIGINT) AS k, count(*) AS n_joined, min(b.n_grp) AS n_grp
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.bk
        |GROUP BY b.bk
        |ORDER BY k NULLS FIRST""".stripMargin,

    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers, round(sum(c_acctbal), 2) AS acctbal_sum
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_outer_join" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin,

    "q_topk" ->
      """SELECT o_custkey AS custkey, c_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_custkey, c_name
        |ORDER BY revenue DESC, custkey
        |LIMIT 10""".stripMargin,

    "q_window" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
        |  round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
        |  round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders
        |WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_window_dist" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cdist,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  last_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ok
        |FROM orders
        |WHERE o_custkey < 30
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, price DESC, o_orderkey""".stripMargin,

    "q_rollup" ->
      """SELECT c_mktsegment, c_nationkey, count(*) AS n_customers, round(sum(c_acctbal), 2) AS acctbal_sum
        |FROM customer
        |GROUP BY ROLLUP(c_mktsegment, c_nationkey)
        |ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_lines, round(sum(l_quantity), 2) AS qty_sum
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_lines
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_set_union" ->
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 7000
        |UNION
        |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000
        |ORDER BY k""".stripMargin,

    "q_set_intersect" ->
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 7000
        |INTERSECT
        |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000
        |ORDER BY k""".stripMargin,

    "q_set_except" ->
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 7000
        |EXCEPT
        |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000
        |ORDER BY k""".stripMargin,

    "q_set_ops_all" ->
      """WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 350000),
        |b AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 300000),
        |u AS (SELECT k, count(*) AS n_union_all FROM (SELECT k FROM a UNION ALL SELECT k FROM b) GROUP BY k),
        |i AS (SELECT k, count(*) AS n_intersect_all FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k),
        |e AS (SELECT k, count(*) AS n_except_all FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k)
        |SELECT u.k AS k, u.n_union_all, i.n_intersect_all, e.n_except_all
        |FROM u LEFT JOIN i ON u.k = i.k LEFT JOIN e ON u.k = e.k
        |ORDER BY k""".stripMargin,

    "q_explode" ->
      s"""SELECT doc_id, CAST(pos AS BIGINT) AS pos, w[pos + 1] AS word
         |FROM (SELECT doc_id, w, unnest(range(len(w))) AS pos
         |      FROM (SELECT doc_id, ${wordsSql("text")} AS w FROM documents WHERE doc_id < 10))
         |ORDER BY doc_id, pos""".stripMargin,

    "q_string_funcs" ->
      """SELECT p_partkey,
        |  upper(p_name) AS name_upper,
        |  lower(p_brand) AS brand_lower,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  substr(p_name, 1, 8) AS name_prefix,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  regexp_replace(p_name, ' ', '_', 'g') AS name_snake,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
        |  trim(p_type) AS type_trim
        |FROM part
        |WHERE p_partkey < 100
        |ORDER BY p_partkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  CAST(dayofmonth(o_orderdate) AS BIGINT) AS o_day,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_date_str,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS BIGINT) AS days_to_98
        |FROM orders
        |WHERE o_orderkey < 200
        |ORDER BY o_orderkey""".stripMargin,

    "q_date_funcs2" ->
      """SELECT o_orderkey,
        |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus_30d,
        |  strftime(CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE), '%Y-%m-%d') AS plus_2m,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow,
        |  CAST(dayofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS doy,
        |  CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week
        |FROM orders
        |WHERE o_orderkey < 300
        |ORDER BY o_orderkey""".stripMargin,

    "q_string_funcs2" ->
      """SELECT p_partkey,
        |  translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
        |  repeat(p_brand, 2) AS brand_x2,
        |  reverse(p_brand) AS brand_rev,
        |  CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
        |  split_part(p_type, ' ', 1) AS type_head,
        |  p_name LIKE '%iv%' AS has_iv,
        |  CAST(ascii(p_brand) AS BIGINT) AS brand_ascii,
        |  chr(CAST(65 + p_partkey % 26 AS INTEGER)) AS letter
        |FROM part
        |WHERE p_partkey < 100
        |ORDER BY p_partkey""".stripMargin,

    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(abs(l_discount - 0.05), 6) AS abs_v,
        |  CAST(ceil(l_quantity) AS BIGINT) AS ceil_v,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_v,
        |  round(sqrt(l_quantity), 6) AS sqrt_v,
        |  round(ln(l_extendedprice), 6) AS ln_v,
        |  round(pow(l_tax + 1.0, 2), 6) AS pow_v,
        |  l_partkey % 7 AS mod_v
        |FROM lineitem
        |WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_case_agg" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending,
        |  floor((sum(CASE WHEN o_orderstatus = 'O' THEN round(o_totalprice * 100) END)
        |    / sum(CASE WHEN o_orderstatus = 'O' THEN 1 END)) * 1.0 + 0.5) / 100.0 AS avg_open_price
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_label_centroids" ->
      """SELECT label, dim, round(avg(x), 6) AS centroid_val, count(*) AS n_vectors
        |FROM (
        |  SELECT label, v, unnest(range(len(v))) AS dim
        |  FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |) t, LATERAL (SELECT v[dim + 1] AS x) l
        |GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,

    "q_ann_lsh" -> {
      val planeLits = Queries.LshPlanes.map(p => "([" + p.mkString(", ") + "]::DOUBLE[])")
      val bucketSql = planeLits.zipWithIndex.map { case (pl, p) =>
        s"(CASE WHEN ${dotSql("v", pl)} > 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |e AS (SELECT vec_id, ${normSql("v")} AS v FROM e0),
         |b AS (SELECT vec_id, v, $bucketSql AS bucket FROM e),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, ${dotSql("q.v", "c.v")} AS cs
         |  FROM b c JOIN (SELECT * FROM b WHERE vec_id < 10) q ON c.bucket = q.bucket
         |  WHERE c.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, rnk, round(cs, 6) AS cos_sim FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored)
         |WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin
    },

    // Lloyd's k-means fully unrolled (3 assign→recompute iterations +
    // final assignment) — every stage is the same centroid-avg /
    // argmin-distance SQL q_ann_ivf already hash-matches; 6dp centroid
    // rounding each round keeps the two engines' double sums aligned.
    "q_kmeans" ->
      s"""WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |$kmeansCtes
         |SELECT cell, count(*) AS n_vectors FROM af GROUP BY cell ORDER BY cell""".stripMargin,

    // SemDeDup replay: planted near-copies (embedNearDup's planting),
    // the q_kmeans 3-iteration Lloyd chain as the quantizer, then
    // same-cell cosine >= tau pairs drop their larger id.
    "q_semdedup" ->
      s"""WITH e0 AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000, label,
         |    list_transform(range(len(v)), i -> CASE WHEN i = 0 THEN v[1] + 0.01 ELSE v[i+1] END)
         |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |  WHERE vec_id % 5 = 0),
         |$kmeansCtes,
         |nrm AS (SELECT vec_id, ${normSql("v")} AS v FROM e0),
         |bn AS (SELECT nrm.vec_id, v, cell FROM nrm JOIN af ON nrm.vec_id = af.vec_id)
         |SELECT DISTINCT pa.cell AS cell, pb.vec_id AS vec_id
         |FROM bn pa JOIN bn pb ON pa.cell = pb.cell AND pa.vec_id < pb.vec_id
         |WHERE ${dotSql("pa.v", "pb.v")} >= 0.95
         |ORDER BY vec_id""".stripMargin,

    "q_ann_ivf" ->
      s"""WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cd AS (
         |  SELECT CAST(label AS BIGINT) AS cell, dim, round(avg(x), 6) AS m
         |  FROM (SELECT label, v, unnest(range(len(v))) AS dim FROM e0) t,
         |       LATERAL (SELECT v[dim + 1] AS x) l
         |  GROUP BY cell, dim),
         |cents AS (SELECT cell, list(m ORDER BY dim) AS cv FROM cd GROUP BY cell),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e0.vec_id, cents.cell,
         |      row_number() OVER (PARTITION BY e0.vec_id ORDER BY
         |        (${dotSql("v", "v")} - 2.0 * ${dotSql("v", "cv")} + ${dotSql("cv", "cv")}), cents.cell) AS rn
         |    FROM e0 CROSS JOIN cents)
         |  WHERE rn = 1),
         |nrm AS (SELECT vec_id, ${normSql("v")} AS v FROM e0),
         |b AS (SELECT nrm.vec_id, v, cell FROM nrm JOIN asg ON nrm.vec_id = asg.vec_id),
         |scored AS (
         |  SELECT q.vec_id AS query_id, q.cell AS cell, c.vec_id AS neighbor_id, ${dotSql("q.v", "c.v")} AS cs
         |  FROM b c JOIN (SELECT * FROM b WHERE vec_id < 10) q ON c.cell = q.cell
         |  WHERE c.vec_id <> q.vec_id)
         |SELECT query_id, cell, neighbor_id, rnk, round(cs, 6) AS cos_sim FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored)
         |WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin,

    // PQ/ADC replay (shared CTEs: see pqCtes): the ADC table ranked
    // per query — the m-way sum is exact integers on both engines.
    "q_ann_pq" ->
      s"""WITH $pqCtes
         |SELECT query_id, neighbor_id, rnk, adc_e6 FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_e6, neighbor_id) AS BIGINT) AS rnk
         |  FROM pq0adc)
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    // PQ + exact refine replay: the same pq0adc table shortlisted to
    // k'=10 per query (adc rank), candidates joined back to their raw
    // vectors, exact squared-L2 1e6-floored, re-ranked to top-3.
    "q_ann_pq_refine" ->
      s"""WITH $pqCtes,
         |sl AS (
         |  SELECT query_id, neighbor_id, adc_e6 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_e6, neighbor_id) AS arn
         |    FROM pq0adc)
         |  WHERE arn <= 10),
         |$exactRerankSql""".stripMargin,

    // Same contract over the 2-round-Lloyd-refined codebooks (both
    // assign/recompute rounds unrolled per subspace).
    "q_ann_pq_lloyd" ->
      s"""WITH pqe0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |$pqLloydCtes
         |SELECT query_id, neighbor_id, rnk, adc_e6 FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_e6, neighbor_id) AS BIGINT) AS rnk
         |  FROM pq2adc)
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    // IVFADC replay (coarse pruning + residual-PQ ADC; see ivfPqCtes —
    // the nprobe=3 cap applies as the cell_rn filter).
    "q_ann_ivfpq" ->
      ivfPqTop3Sql,

    // Pruned-layout IVFADC: same pipeline, the code table served from
    // a parquet layout partitioned by ivf_cell with a probed-cell
    // PartitionFilter — results are bit-identical to q_ann_ivfpq, so
    // the replay is the same SQL.
    "q_ann_ivfpq_pruned" ->
      ivfPqTop3Sql,

    // IVFADC + exact refine replay: the nprobe=3 ADC table shortlisted
    // to k'=12 per query, candidates joined back to raw vectors, exact
    // squared-L2 1e6-floored, re-ranked to top-3 (the q_ann_pq_refine
    // contract over the IVF-pruned candidate set).
    "q_ann_ivfpq_refine" ->
      s"""WITH pqe0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |$ivfPqCtes,
         |sl AS (
         |  SELECT query_id, neighbor_id, adc_e6 FROM (
         |    SELECT query_id, neighbor_id, adc_e6,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc_e6, neighbor_id) AS arn
         |    FROM ivadc WHERE cell_rn <= 3)
         |  WHERE arn <= 12),
         |$exactRerankSql""".stripMargin,

    // IVFADC recall-vs-nprobe curve: every pair ADC-scored once with
    // its cell rank; each nprobe's top-3 is a filter + rank; hit
    // counts vs the exact squared-L2 truth, one row per nprobe.
    "q_ann_ivfpq_sweep" ->
      s"""WITH pqe0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |$ivfPqCtes,
         |bt AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${dotSql("c.v", "c.v")} - 2.0 * ${dotSql("q.v", "c.v")} + ${dotSql("q.v", "q.v")} AS d2
         |  FROM pqe0 c JOIN pqe0 q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY d2, neighbor_id) AS rnk FROM bt) WHERE rnk <= 3),
         |tt AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
         |    count(*) AS n_truth FROM truth),
         |nps AS (SELECT CAST(unnest([1, 2, 3, 5, 10]) AS BIGINT) AS nprobe),
         |aps AS (SELECT nprobe, query_id, neighbor_id FROM (
         |    SELECT nps.nprobe, a.query_id, a.neighbor_id,
         |      row_number() OVER (PARTITION BY nps.nprobe, a.query_id
         |        ORDER BY a.adc_e6, a.neighbor_id) AS rnk
         |    FROM ivadc a JOIN nps ON a.cell_rn <= nps.nprobe)
         |  WHERE rnk <= 3),
         |h AS (SELECT nprobe, count(*) AS n_hits
         |  FROM aps JOIN truth USING (query_id, neighbor_id) GROUP BY nprobe)
         |SELECT nps.nprobe, tt.n_queries, tt.n_truth,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
         |FROM nps CROSS JOIN tt LEFT JOIN h ON nps.nprobe = h.nprobe
         |ORDER BY nps.nprobe""".stripMargin,

    // PQ-family quality replay: every variant's ADC top-3 intersected
    // with the exact squared-L2 top-3 — each hit count hash-matches,
    // and the relative ge_plain_pq gate rides the same integers.
    "q_ann_pq_recall" ->
      s"""WITH $pqCtes,
         |$pqLloydCtes,
         |$ivfPqCtes,
         |a0 AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_e6, neighbor_id) AS rnk FROM pq0adc) WHERE rnk <= 3),
         |a2 AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_e6, neighbor_id) AS rnk FROM pq2adc) WHERE rnk <= 3),
         |ai AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc_e6, neighbor_id) AS rnk
         |    FROM ivadc WHERE cell_rn <= 3) WHERE rnk <= 3),
         |bt AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${dotSql("c.v", "c.v")} - 2.0 * ${dotSql("q.v", "c.v")} + ${dotSql("q.v", "q.v")} AS d2
         |  FROM pqe0 c JOIN pqe0 q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY d2, neighbor_id) AS rnk FROM bt) WHERE rnk <= 3),
         |h0 AS (SELECT count(*) AS h0 FROM truth t JOIN a0 a USING (query_id, neighbor_id)),
         |h2 AS (SELECT count(*) AS h2 FROM truth t JOIN a2 a USING (query_id, neighbor_id)),
         |hi AS (SELECT count(*) AS hi FROM truth t JOIN ai a USING (query_id, neighbor_id)),
         |rsl AS (SELECT query_id, neighbor_id, adc_e6 FROM (
         |    SELECT query_id, neighbor_id, adc_e6,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc_e6, neighbor_id) AS arn
         |    FROM ivadc WHERE cell_rn <= 3)
         |  WHERE arn <= 12),
         |rre AS (SELECT s.query_id, s.neighbor_id,
         |    CAST(floor((${dotSql("n.v", "n.v")} - 2.0 * ${dotSql("q.v", "n.v")}
         |      + ${dotSql("q.v", "q.v")}) * 1000000.0) AS BIGINT) AS d2_e6
         |  FROM rsl s JOIN pqe0 q ON s.query_id = q.vec_id
         |       JOIN pqe0 n ON s.neighbor_id = n.vec_id),
         |ar AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY d2_e6, neighbor_id) AS rnk FROM rre) WHERE rnk <= 3),
         |hr AS (SELECT count(*) AS hr FROM truth t JOIN ar a USING (query_id, neighbor_id)),
         |tt AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
         |    count(*) AS n_truth FROM truth),
         |wide AS (SELECT * FROM tt CROSS JOIN h0 CROSS JOIN h2 CROSS JOIN hi CROSS JOIN hr)
         |SELECT method, n_queries, n_truth, n_hits, ge_plain_pq FROM (
         |  SELECT 'ivfpq8x32_adc' AS method, n_queries, n_truth, hi AS n_hits,
         |    hi >= h0 AS ge_plain_pq FROM wide
         |  UNION ALL
         |  SELECT 'ivfpq8x32_adc_refine', n_queries, n_truth, hr, hr >= h0 FROM wide
         |  UNION ALL
         |  SELECT 'pq4x10_adc', n_queries, n_truth, h0, h0 >= h0 FROM wide
         |  UNION ALL
         |  SELECT 'pq4x10_adc_lloyd2', n_queries, n_truth, h2, h2 >= h0 FROM wide)
         |ORDER BY method""".stripMargin,

    // Full replay of the multi-table LSH recall pipeline (shared CTEs:
    // see annMtCtes) + brute-force truth, so n_hits itself hash-matches
    // — recall_ok is the headline contract on top.
    "q_ann_recall" ->
      s"""WITH $annMtCtes,
         |approx AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
         |    FROM scored) WHERE rnk <= 3),
         |bscored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, ${dotSql("q.v", "c.v")} AS cs
         |            FROM e c JOIN e q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
         |    FROM bscored) WHERE rnk <= 3),
         |hits AS (SELECT count(*) AS n_hits FROM truth t JOIN approx a USING (query_id, neighbor_id)),
         |tt AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries, count(*) AS n_truth FROM truth)
         |SELECT 'lsh_mt32x6' AS method, n_queries, n_truth, n_hits,
         |       (n_hits * 4 >= n_truth * 3) AS recall_ok
         |FROM tt CROSS JOIN hits""".stripMargin,

    "q_ann_multitable" ->
      s"""WITH $annMtCtes
         |SELECT query_id, neighbor_id, rnk, round(cs, 6) AS cos_sim FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored)
         |WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin,

    "q_stratified_split" ->
      s"""WITH d AS (SELECT lang, n_chars,
         |  ${hSql("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 AS b FROM documents)
         |SELECT lang,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM d GROUP BY lang, split
         |ORDER BY lang, split""".stripMargin,

    "q_topn_per_group" ->
      """SELECT c_nationkey, rn, c_custkey, round(c_acctbal, 2) AS acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn
        |  FROM customer)
        |WHERE rn <= 3
        |ORDER BY c_nationkey, rn""".stripMargin,

    "q_range_join" ->
      """WITH e AS (SELECT event_id, user_id,
        |             CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
        |           FROM events)
        |SELECT a.user_id AS user_id, count(*) AS n_pairs
        |FROM e a JOIN e b ON a.user_id = b.user_id AND b.sec > a.sec AND b.sec - a.sec <= 60
        |GROUP BY a.user_id
        |ORDER BY user_id""".stripMargin,

    "q_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q_grouping_sets" ->
      """SELECT c_mktsegment, c_nationkey,
        |  CAST(grouping(c_mktsegment) AS BIGINT) AS g_seg,
        |  CAST(grouping(c_nationkey) AS BIGINT) AS g_nat,
        |  count(1) AS n, round(sum(c_acctbal), 2) AS bal_sum
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY g_seg, g_nat, c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST""".stripMargin,

    "q_map_funcs" ->
      """SELECT event_id,
        |  CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
        |  array_to_string(list_sort(json_keys(props)), ',') AS keys,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |  list_contains(json_keys(props), 'missing') AS has_missing
        |FROM events
        |WHERE event_id < 500
        |ORDER BY event_id""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT c_mktsegment, count(*) AS n_above_avg
        |FROM customer
        |WHERE round(c_acctbal * 100) * (SELECT count(*) FROM customer)
        |      > (SELECT sum(round(c_acctbal * 100)) FROM customer)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_salted_join" ->
      """SELECT concat('10.', user_id % 250, '.', (user_id * 7) % 250, '.', 1 + (user_id * 13) % 250) AS ip,
        |  count(*) AS n_events, round(sum(value), 2) AS value_sum
        |FROM events
        |GROUP BY 1
        |ORDER BY ip""".stripMargin,

    "q_edit_distance" ->
      """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE a.p_partkey < 40 AND b.p_partkey < 40
        |  AND levenshtein(a.p_name, b.p_name) <= 15
        |ORDER BY key_a, key_b""".stripMargin,

    "q_topk_typed" ->
      """SELECT o_custkey AS c_custkey, rn AS rnk, o_orderkey, round(o_totalprice, 2) AS price FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY c_custkey, rnk""".stripMargin,

    "q_null_funcs" ->
      """WITH t AS (SELECT c_custkey, c_mktsegment,
        |             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS nb
        |           FROM customer)
        |SELECT c_mktsegment,
        |  count(*) AS n_rows,
        |  count(nb) AS n_nonnull,
        |  CAST(sum(CASE WHEN nb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  round(sum(coalesce(nb, 0.0)), 2) AS sum_coalesced,
        |  CAST(sum(CASE WHEN nb IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq_null
        |FROM t
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_string_agg" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations, count(*) AS n_nations
        |FROM nation
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin,

    "q_stats_agg" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(round(l_quantity * 100) AS DECIMAL(38,0))) AS DOUBLE) AS sq,
        |    CAST(sum(CAST(round(l_quantity * 100) * round(l_quantity * 100) AS DECIMAL(38,0))) AS DOUBLE) AS sqq,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(38,0))) AS DOUBLE) AS sp,
        |    CAST(sum(CAST(round(l_extendedprice * 100) * round(l_extendedprice * 100) AS DECIMAL(38,0))) AS DOUBLE) AS spp,
        |    CAST(sum(CAST(round(l_discount * 100) AS DECIMAL(38,0))) AS DOUBLE) AS sd,
        |    CAST(sum(CAST(round(l_quantity * 100) * round(l_extendedprice * 100) AS DECIMAL(38,0))) AS DOUBLE) AS sqp,
        |    CAST(sum(CAST(round(l_quantity * 100) * round(l_discount * 100) AS DECIMAL(38,0))) AS DOUBLE) AS sqd
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  round(sqrt((n * sqq - sq * sq) / (n * (n - 1))) / 100, 4) AS sd_qty,
        |  round((n * spp - sp * sp) / (n * (n - 1)) / 10000, 2) AS var_price,
        |  round((n * sqp - sq * sp) / (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 4) AS corr_qty_price,
        |  round((n * sqd - sq * sd) / (n * (n - 1)) / 10000, 4) AS covar_qty_disc
        |FROM m
        |ORDER BY l_returnflag""".stripMargin,

    "q_having" ->
      """SELECT c_nationkey, count(*) AS n_customers,
        |  floor((sum(round(c_acctbal * 100)) / count(*)) * 1.0 + 0.5) / 100.0 AS avg_bal
        |FROM customer
        |GROUP BY c_nationkey
        |HAVING count(*) > 4
        |ORDER BY c_nationkey""".stripMargin,

    // One oracle, three executions: q_asof_join (union+window),
    // q_asof_bucketed (skew-resistant (key,bucket) windows + carry-in),
    // q_asof_native (AsOfJoinExec sorted merge) all hash-match it.
    "q_asof_join" -> asofOracle,
    "q_asof_bucketed" -> asofOracle,
    "q_asof_native" -> asofOracle,

    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS mts,
        |             CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
        |           FROM events),
        |s1 AS (SELECT user_id, event_id, mts, sec,
        |         CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
        |       FROM e WINDOW w AS (PARTITION BY user_id ORDER BY mts, event_id)),
        |s2 AS (SELECT user_id, sec,
        |         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY mts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |       FROM s1)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  strftime(make_timestamp(min(sec) * 1000000), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  max(sec) - min(sec) AS duration_sec
        |FROM s2 GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    // Same recursive walk as the Spark query, DuckDB dialect: epoch_us
    // over the CAST-to-µs timestamp matches Spark's unix_micros over the
    // Tables µs rebuild.
    "q_recursive_chain" ->
      """WITH RECURSIVE ordered AS (
        |  SELECT user_id, event_id, us, lag(event_id) OVER w AS prev_id, lag(us) OVER w AS prev_us
        |  FROM (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |nxt AS (SELECT user_id, event_id, us, prev_id FROM ordered
        |        WHERE prev_us IS NOT NULL AND us - prev_us <= 1800000000),
        |chain(user_id, event_id, step) AS (
        |  SELECT user_id, event_id, 1 FROM ordered
        |  WHERE prev_us IS NULL OR us - prev_us > 1800000000
        |  UNION ALL
        |  SELECT n.user_id, n.event_id, c.step + 1
        |  FROM chain c JOIN nxt n ON n.user_id = c.user_id AND n.prev_id = c.event_id
        |  WHERE c.step < 5)
        |SELECT CAST(step AS BIGINT) AS step, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users, min(event_id) AS min_event
        |FROM chain GROUP BY step ORDER BY step""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
        |  round(quantile_cont(l_discount, 0.25), 6) AS p25_disc
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_array_funcs" ->
      s"""SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  w[1] AS first_word,
         |  w[len(w)] AS last_word,
         |  array_to_string(w[1:3], ' ') AS first3,
         |  list_sort(w)[1] AS min_word,
         |  list_contains(w, 'data') AS has_data,
         |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
         |FROM (SELECT doc_id, ${wordsSql("text")} AS w FROM documents WHERE doc_id < 100)
         |ORDER BY doc_id""".stripMargin,

    "q_json_funcs" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // VARIANT semantics == typed JSON extraction; the missing-path count
    // is identically zero on both sides.
    "q_variant_funcs" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
        |  CAST(count(json_extract_string(props, '$.absent')) AS BIGINT) AS n_missing
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // End-to-end curation: every fragment below is generated from the
    // same Scala constants as the Spark stages (TextOps / Dedup /
    // Curation), so the two sides cannot drift.
    "q_curation" ->
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000, replace(text, 'data', 'info') FROM documents WHERE doc_id % 5 = 0),
         |$curationCtes,
         |kept AS (SELECT doc_id, quality FROM ek WHERE doc_id NOT IN (SELECT doc_id FROM neardrop)),
         |${curationSplitSql("kept")}""".stripMargin,

    // Curation + span-dedup stage: the q_curation chain (kept carries
    // text forward), plus quote plants (two 30-token slices), then the
    // q_winnow fingerprint replay over the LSH survivors with the
    // Curation.Span* thresholds; doc_b of each span pair is dropped.
    "q_curation_spans" ->
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000, replace(text, 'data', 'info') FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT a.doc_id + 70000,
         |    array_to_string(string_split_regex(trim(lower(a.text)), '\\s+')[11:40], ' ')
         |      || ' ' ||
         |    array_to_string(string_split_regex(trim(lower(b.text)), '\\s+')[11:40], ' ')
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 3
         |  WHERE a.doc_id % 11 = 0
         |    AND len(string_split_regex(trim(lower(a.text)), '\\s+')) >= 40
         |    AND len(string_split_regex(trim(lower(b.text)), '\\s+')) >= 40),
         |$curationCtes,
         |kept AS (SELECT doc_id, text, quality FROM ek
         |         WHERE doc_id NOT IN (SELECT doc_id FROM neardrop)),
         |${winnowFpsCtes("cw", "kept")},
         |cwrare AS (SELECT fp FROM cwfps GROUP BY fp
         |           HAVING count(*) <= ${graft.ops.Curation.SpanMaxDocFreq}),
         |cwkept AS (SELECT cwfps.doc_id, cwfps.fp FROM cwfps JOIN cwrare USING (fp)),
         |spandrop AS (SELECT b.doc_id FROM cwkept a JOIN cwkept b
         |             ON a.fp = b.fp AND a.doc_id < b.doc_id
         |             GROUP BY a.doc_id, b.doc_id
         |             HAVING count(*) >= ${graft.ops.Curation.SpanMinShared}),
         |kept2 AS (SELECT doc_id, quality FROM kept
         |          WHERE doc_id NOT IN (SELECT doc_id FROM spandrop)),
         |${curationSplitSql("kept2")}""".stripMargin,

    // Curation + COVERED span policy: the q_curation_spans chain, but
    // spandrop keeps a doc unless the shared span is >= SpanMinCoverage
    // of ITS OWN fingerprints (per-doc counts from a cvcnt CTE; both
    // covered -> keep-one drops doc_b). Plants: PURE-QUOTE docs
    // (id+80000) must drop; vowel-rotated HOSTS carrying a short quote
    // (id+70000) must survive.
    "q_curation_spancov" ->
      s"""WITH $coverPlantBaseCtes,
         |$curationCtes,
         |kept AS (SELECT doc_id, text, quality FROM ek
         |         WHERE doc_id NOT IN (SELECT doc_id FROM neardrop)),
         |${winnowFpsCtes("cv", "kept")},
         |cvcnt AS (SELECT doc_id, count(*) AS nfp FROM cvfps GROUP BY doc_id),
         |cvrare AS (SELECT fp FROM cvfps GROUP BY fp
         |           HAVING count(*) <= ${graft.ops.Curation.SpanMaxDocFreq}),
         |cvkept AS (SELECT cvfps.doc_id, cvfps.fp FROM cvfps JOIN cvrare USING (fp)),
         |cvpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |            FROM cvkept a JOIN cvkept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |            GROUP BY 1, 2 HAVING count(*) >= ${graft.ops.Curation.SpanMinShared}),
         |cvcov AS (SELECT doc_a, doc_b,
         |    round(CAST(n_shared AS DOUBLE) / ca.nfp, 6) AS cov_a,
         |    round(CAST(n_shared AS DOUBLE) / cb.nfp, 6) AS cov_b
         |  FROM cvpairs JOIN cvcnt ca ON cvpairs.doc_a = ca.doc_id
         |               JOIN cvcnt cb ON cvpairs.doc_b = cb.doc_id),
         |spandrop AS (
         |  SELECT doc_b AS doc_id FROM cvcov
         |  WHERE cov_b >= ${graft.ops.Curation.SpanMinCoverage}
         |  UNION ALL
         |  SELECT doc_a FROM cvcov
         |  WHERE cov_a >= ${graft.ops.Curation.SpanMinCoverage}
         |    AND cov_b < ${graft.ops.Curation.SpanMinCoverage}),
         |kept2 AS (SELECT doc_id, quality FROM kept
         |          WHERE doc_id NOT IN (SELECT doc_id FROM spandrop)),
         |${curationSplitSql("kept2")}""".stripMargin,

    // Curation + the volume-preserving strip mode: the spancov chain up
    // to `kept` (text carried), then the q_dedup_strip replay (8-gram
    // first-occurrence marks, running-max coverage, md5'd rebuild) over
    // the SURVIVING corpus; keep_doc = n_kept >= 8.
    "q_curation_strip" ->
      s"""WITH $coverPlantBaseCtes,
         |$curationCtes,
         |kept AS (SELECT doc_id, text, quality FROM ek
         |         WHERE doc_id NOT IN (SELECT doc_id FROM neardrop)),
         |${gram8Ctes("z", "kept")},
         |zbf AS (SELECT h, min(key) AS first_key FROM zh GROUP BY h),
         |zmk AS (SELECT doc_id, pos FROM zh JOIN zbf USING (h) WHERE key <> first_key),
         |zj AS (SELECT t.doc_id, t.pos, t.tok,
         |    CASE WHEN m.pos IS NOT NULL THEN t.pos + 7 END AS de
         |  FROM ztoks t LEFT JOIN zmk m ON t.doc_id = m.doc_id AND t.pos = m.pos),
         |zr AS (SELECT *, max(de) OVER (PARTITION BY doc_id ORDER BY pos) AS run_end
         |       FROM zj),
         |zs AS (SELECT doc_id, count(*) AS n_tokens,
         |    CAST(sum(CASE WHEN run_end IS NULL OR pos > run_end THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_kept,
         |    md5(coalesce(string_agg(tok, ' ' ORDER BY pos)
         |      FILTER (WHERE run_end IS NULL OR pos > run_end), '')) AS clean_md5
         |  FROM zr GROUP BY doc_id),
         |dd AS (SELECT doc_id, quality,
         |        ${hSql("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 AS b FROM kept)
         |SELECT zs.doc_id, quality,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |  n_tokens, n_kept, (n_kept >= 8) AS keep_doc, clean_md5
         |FROM zs JOIN dd ON zs.doc_id = dd.doc_id
         |ORDER BY 1""".stripMargin,

    "q_exists" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q_lateral" ->
      """SELECT n_name, t.c_custkey, round(t.c_acctbal, 2) AS acctbal
        |FROM nation,
        |LATERAL (SELECT c_custkey, c_acctbal FROM customer
        |         WHERE c_nationkey = n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n_name, t.c_custkey""".stripMargin,

    "q_scalar_corr" ->
      """SELECT n_nationkey, n_name,
        |  (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) AS n_cust,
        |  (SELECT round(max(c_acctbal), 2) FROM customer WHERE c_nationkey = n_nationkey) AS max_bal
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // Spark lambda HOFs vs DuckDB list functions; doubles via identical
    // sequential left folds (bit-exact, see q_knn_cosine precedent).
    "q_hof_funcs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 50)
        |SELECT vec_id,
        |  round(list_reduce(list_prepend(0.0, v), (a, x) -> a + x), 6) AS sum_v,
        |  CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
        |  len(list_filter(v, x -> x > 0.9)) > 0 AS any_big,
        |  len(list_filter(v, x -> x <= -1.0)) = 0 AS all_gt,
        |  round(list_reduce(list_prepend(0.0,
        |    list_transform(list_zip(v, list_reverse(v)), s -> s[1] * s[2])),
        |    (a, x) -> a + x), 6) AS dot_rev,
        |  round(v[1], 6) AS h1, round(v[2], 6) AS h2, round(v[3], 6) AS h3
        |FROM e ORDER BY vec_id""".stripMargin,

    // Misra-Gries in its exact regime (k=16 > distinct langs) == GROUP BY.
    "q_freq_items" ->
      """SELECT lang AS item, count(*) AS cnt FROM documents
        |GROUP BY lang ORDER BY cnt DESC, item""".stripMargin,

    "q_resample" ->
      """WITH users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 5),
        |days AS (SELECT CAST(d AS DATE) AS day
        |         FROM generate_series(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY) t(d)),
        |daily AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
        |          FROM events WHERE user_id < 5 GROUP BY 1, 2),
        |g AS (SELECT u.user_id, dy.day, COALESCE(n, 0) AS n_events
        |      FROM users u CROSS JOIN days dy
        |      LEFT JOIN daily ON daily.user_id = u.user_id AND daily.day = dy.day)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  CAST(sum(n_events) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_events
        |FROM g ORDER BY user_id, day""".stripMargin,

    "q_unpivot" ->
      """WITH li AS (SELECT * FROM lineitem WHERE l_orderkey < 200)
        |SELECT l_orderkey, l_linenumber, measure, round(value, 2) AS value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM li
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS measure, l_extendedprice AS value FROM li
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount' AS measure, l_discount AS value FROM li)
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,

    "q_window_range" ->
      """SELECT p_partkey, p_brand, CAST(p_size AS BIGINT) AS p_size,
        |  count(*) OVER wr AS n_near,
        |  CAST(sum(p_size) OVER wr AS BIGINT) AS size_sum,
        |  round(min(p_retailprice) OVER wr, 2) AS min_near_price,
        |  nth_value(p_partkey, 2) OVER wf AS second_smallest
        |FROM part WHERE p_partkey < 400
        |WINDOW
        |  wr AS (PARTITION BY p_brand ORDER BY p_size
        |         RANGE BETWEEN 2 PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY p_brand ORDER BY p_size, p_partkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY p_partkey""".stripMargin,

    "q_bitwise" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey & 255 AS and_v,
        |  l_orderkey | 4096 AS or_v,
        |  xor(l_orderkey, l_suppkey) AS xor_v,
        |  ~l_orderkey AS not_v,
        |  l_orderkey << 3 AS shl_v,
        |  l_orderkey >> 2 AS shr_v,
        |  CAST(bit_count(l_orderkey) AS BIGINT) AS pop_v
        |FROM lineitem WHERE l_orderkey < 2000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // ---- round-4 operators

    "q_global_sort" ->
      """SELECT o_orderkey, o_totalprice,
        |  row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS pos
        |FROM orders
        |ORDER BY pos""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS price_sum,
        |  min(o_totalprice) AS price_min,
        |  max(o_totalprice) AS price_max
        |FROM orders GROUP BY bin ORDER BY bin""".stripMargin,

    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM e WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(us) AS click_us FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE event_type = 'click' AND us > view_us GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(us) AS purchase_us FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE event_type = 'purchase' AND us > click_us GROUP BY e.user_id)
        |SELECT v.user_id, view_us, click_us, purchase_us,
        |  CAST(1 + (CASE WHEN click_us IS NOT NULL THEN 1 ELSE 0 END)
        |         + (CASE WHEN purchase_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage
        |FROM v LEFT JOIN c ON v.user_id = c.user_id LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,

    "q_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |              epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d FROM events),
        |c AS (SELECT user_id, min(d) AS cohort_day FROM ud GROUP BY user_id)
        |SELECT cohort_day, d - cohort_day AS day_offset, count(*) AS n_users
        |FROM ud JOIN c ON ud.user_id = c.user_id
        |GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "q_ohlc" ->
      """WITH e AS (SELECT event_type, event_id, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type, d ORDER BY us, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, d ORDER BY us DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, d,
        |  min(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high,
        |  min(value) AS low,
        |  min(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  round(sum(value), 2) AS volume,
        |  count(*) AS n_events
        |FROM r GROUP BY event_type, d
        |ORDER BY event_type, d""".stripMargin,

    "q_vocab" ->
      """WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents),
        |g AS (SELECT token, count(*) AS cnt FROM t WHERE length(token) >= 2 GROUP BY token),
        |r AS (SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS vocab_id FROM g)
        |SELECT token, cnt, vocab_id FROM r WHERE vocab_id <= 200
        |ORDER BY vocab_id""".stripMargin,

    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents),
        |tok2 AS (SELECT doc_id, token FROM tok WHERE length(token) >= 2),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok2 GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df
        |          FROM (SELECT DISTINCT doc_id, token FROM tok2) GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, token, tf, df, tf * ln(CAST(n_docs AS DOUBLE) / df) AS score
        |      FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        |r AS (SELECT doc_id, token, tf, df,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS term_rank
        |      FROM s)
        |SELECT doc_id, term_rank, token, tf, df FROM r WHERE term_rank <= 3
        |ORDER BY doc_id, term_rank""".stripMargin,

    // Brute-force oracle: the Spark side's PassJoin segment prefilter
    // has structural (pigeonhole) recall, so its verified output must
    // equal the plain quadratic join exactly.
    "q_fuzzy_join" ->
      """WITH p AS (SELECT p_partkey, p_name, p_brand FROM part)
        |SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |  a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY key_a, key_b""".stripMargin,

    "q_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |t AS (SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_type
        |  FROM e)
        |SELECT prev_type, event_type, count(*) AS n_transitions
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type
        |ORDER BY prev_type, event_type""".stripMargin,

    // z² > 2.5² cross-multiplied into exact integers (HUGEINT here,
    // decimal(38,0) on the Spark side) — no float boundary can flip
    // the outlier flag between engines.
    "q_zscore" ->
      """WITH e AS (SELECT event_id, event_type, value,
        |    CAST(round(value * 100, 0) AS HUGEINT) AS c FROM events),
        |st AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    sum(c) AS s1, sum(c * c) AS s2 FROM e GROUP BY event_type)
        |SELECT event_id, e.event_type, value
        |FROM e JOIN st USING (event_type)
        |WHERE 4 * (c * n - s1) * (c * n - s1) * (n - 1) > 25 * n * (n * s2 - s1 * s1)
        |ORDER BY event_id""".stripMargin,

    "q_interval_merge" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS e FROM events),
        |m AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM e),
        |f AS (SELECT *, CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END AS ni FROM m),
        |i AS (SELECT *, CAST(sum(ni) OVER (PARTITION BY user_id ORDER BY s, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island FROM f)
        |SELECT user_id, island, min(s) AS start_us, max(e) AS end_us, count(*) AS n_events
        |FROM i GROUP BY user_id, island
        |ORDER BY user_id, island""".stripMargin,

    "q_seq_pack" ->
      """WITH d AS (SELECT doc_id, doc_id % 32 AS shard,
        |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> length(t) >= 2)) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM d)
        |SELECT doc_id, shard, n_tokens,
        |  shard * 1000000 + cum_before // 2048 AS pack_id,
        |  cum_before % 2048 AS pack_offset,
        |  cum_before % 2048 + n_tokens > 2048 AS spans_boundary
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_doc_repetition" ->
      """WITH tok AS (SELECT doc_id, unnest(l) AS token, generate_subscripts(l, 1) AS pos
        |             FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents)),
        |t2 AS (SELECT doc_id, pos, token FROM tok WHERE length(token) >= 1),
        |per AS (SELECT doc_id, count(*) AS n_tokens, count(DISTINCT token) AS n_distinct
        |        FROM t2 GROUP BY doc_id),
        |bg AS (SELECT doc_id, token || ' ' || lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
        |       FROM t2),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM bg WHERE bg IS NOT NULL GROUP BY doc_id, bg),
        |bm AS (SELECT doc_id, max(c) AS max_bigram_cnt, CAST(sum(c) AS BIGINT) AS n_bigrams
        |       FROM bc GROUP BY doc_id)
        |SELECT per.doc_id, n_tokens, n_distinct,
        |  coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(max_bigram_cnt, 0) AS max_bigram_cnt,
        |  (n_tokens - n_distinct) * 2 > n_tokens AS dup_token_flag,
        |  coalesce(max_bigram_cnt, 0) * 10 > coalesce(n_bigrams, 0) AS top_bigram_flag
        |FROM per LEFT JOIN bm ON per.doc_id = bm.doc_id
        |ORDER BY per.doc_id""".stripMargin,

    "q_decontaminate" ->
      """WITH tok AS (SELECT doc_id, unnest(l) AS token, generate_subscripts(l, 1) AS pos
        |             FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents)),
        |t2 AS (SELECT doc_id, pos, token FROM tok WHERE length(token) >= 2),
        |g AS (SELECT doc_id, token || ' ' || lead(token, 1) OVER w || ' ' || lead(token, 2) OVER w AS gram
        |      FROM t2 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |g2 AS (SELECT DISTINCT doc_id, gram FROM g WHERE gram IS NOT NULL),
        |bench AS (SELECT DISTINCT gram FROM g2 WHERE doc_id % 97 = 0),
        |c AS (SELECT * FROM g2 WHERE doc_id % 97 <> 0),
        |agg AS (SELECT c.doc_id, count(*) AS n_grams,
        |          CAST(sum(CASE WHEN bench.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
        |        FROM c LEFT JOIN bench ON c.gram = bench.gram
        |        GROUP BY c.doc_id)
        |SELECT doc_id, n_grams, n_matched, n_matched > 0 AS contaminated
        |FROM agg ORDER BY doc_id""".stripMargin,

    // Per-iteration round(·, 6) quantization on BOTH engines (the
    // unrolled-kmeans device) — each iteration's input is bit-identical,
    // so accumulation-order noise cannot compound across rounds.
    "q_pagerank" ->
      s"""WITH p AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |ed AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM p WHERE dst IS NOT NULL GROUP BY src, dst),
         |$pagerankCtes
         |SELECT node, pr FROM pr3 ORDER BY node""".stripMargin,

    // TextRank replay: the q_decontaminate tokenization (kept-position
    // lead adjacency), symmetrized weighted edges, then the exact
    // q_pagerank iteration CTEs over the vocab graph.
    "q_textrank" ->
      s"""WITH tok AS (SELECT doc_id, unnest(l) AS token, generate_subscripts(l, 1) AS pos
         |             FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS l FROM documents)),
         |t2 AS (SELECT doc_id, pos, token FROM tok WHERE length(token) >= 2),
         |adj AS (SELECT token, lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM t2),
         |pp AS (SELECT token, nxt FROM adj WHERE nxt IS NOT NULL AND token <> nxt),
         |ed AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM (
         |    SELECT token AS src, nxt AS dst FROM pp
         |    UNION ALL SELECT nxt, token FROM pp) u GROUP BY src, dst),
         |$pagerankCtes
         |SELECT rnk, node AS token, pr FROM (
         |  SELECT node, pr, CAST(row_number() OVER (ORDER BY pr DESC, node) AS BIGINT) AS rnk
         |  FROM pr3)
         |WHERE rnk <= 20 ORDER BY rnk""".stripMargin,

    // Winsorize replay: decile boundaries from the same support walk,
    // clamp, one integral division.
    "q_winsorize" ->
      s"""WITH vals AS (
         |  SELECT l_returnflag AS grp,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
         |  FROM lineitem),
         |pv AS (SELECT grp, v, count(*) AS nv FROM vals GROUP BY grp, v),
         |cum AS (
         |  SELECT grp, v, nv, sum(nv) OVER (PARTITION BY grp ORDER BY v) AS cum
         |  FROM pv),
         |tot AS (SELECT grp, CAST(sum(nv) AS BIGINT) AS n FROM pv GROUP BY grp),
         |b AS (
         |  SELECT cum.grp, n,
         |    min(CASE WHEN cum * 10 >= n THEN v END) AS lo,
         |    min(CASE WHEN cum * 10 >= n * 9 THEN v END) AS hi
         |  FROM cum JOIN tot ON cum.grp = tot.grp GROUP BY cum.grp, n)
         |SELECT vals.grp, n AS total_n, lo AS lo_cents, hi AS hi_cents,
         |  CAST(sum(greatest(lo, least(hi, v))) * 100 // n AS BIGINT) AS winsor_mean_e4
         |FROM vals JOIN b ON vals.grp = b.grp
         |GROUP BY vals.grp, n, lo, hi ORDER BY vals.grp""".stripMargin,

    // Gap-audit replay: generate_series grid, anti join, island runs.
    "q_gap_audit" ->
      s"""WITH hrs AS (
         |  SELECT DISTINCT event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h
         |  FROM events),
         |span AS (SELECT min(h) AS lo, max(h) AS hi FROM hrs),
         |grid AS (
         |  SELECT event_type, unnest(generate_series(lo, hi)) AS h
         |  FROM (SELECT DISTINCT event_type FROM hrs) CROSS JOIN span),
         |gaps AS (
         |  SELECT g.event_type, g.h FROM grid g
         |  LEFT JOIN hrs ON g.event_type = hrs.event_type AND g.h = hrs.h
         |  WHERE hrs.h IS NULL),
         |runs0 AS (
         |  SELECT event_type,
         |    h - row_number() OVER (PARTITION BY event_type ORDER BY h) AS grp
         |  FROM gaps),
         |runs AS (SELECT event_type, grp, count(*) AS run FROM runs0 GROUP BY 1, 2),
         |miss AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_missing FROM gaps GROUP BY event_type),
         |lr AS (SELECT event_type, CAST(max(run) AS BIGINT) AS longest_gap FROM runs GROUP BY event_type)
         |SELECT m.event_type, CAST(hi - lo + 1 AS BIGINT) AS n_hours, n_missing,
         |  coalesce(longest_gap, 0) AS longest_gap,
         |  CAST(n_missing * 1000000 // (hi - lo + 1) AS BIGINT) AS missing_e6
         |FROM miss m LEFT JOIN lr ON m.event_type = lr.event_type CROSS JOIN span
         |ORDER BY m.event_type""".stripMargin,

    // Trimmed-mean replay: decile trim on the cents support with the
    // atomic tied-run keep rule, one integral division.
    "q_trimmed_mean" ->
      s"""WITH pv AS (
         |  SELECT l_returnflag AS grp,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         |    count(*) AS nv
         |  FROM lineitem GROUP BY 1, 2),
         |cum AS (
         |  SELECT grp, v, nv,
         |    sum(nv) OVER (PARTITION BY grp ORDER BY v) AS cum
         |  FROM pv),
         |tot AS (SELECT grp, CAST(sum(nv) AS BIGINT) AS n FROM pv GROUP BY grp)
         |SELECT cum.grp, n AS total_n,
         |  CAST(sum(nv) AS BIGINT) AS kept_n,
         |  CAST(sum(nv * v) * 100 // sum(nv) AS BIGINT) AS trimmed_mean_e4
         |FROM cum JOIN tot ON cum.grp = tot.grp
         |WHERE (cum - nv) * 10 >= n AND cum * 10 <= n * 9
         |GROUP BY cum.grp, n ORDER BY cum.grp""".stripMargin,

    // Attribution replay: running last click over the PRECEDING frame
    // in (us, event_id) order, purchases only.
    "q_attribution" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events),
         |r AS (
         |  SELECT user_id, event_id, event_type, us,
         |    last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY us, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_us
         |  FROM e)
         |SELECT user_id, event_id, us AS purchase_us, click_us,
         |  us - click_us AS lag_us
         |FROM r WHERE event_type = 'purchase'
         |ORDER BY user_id, purchase_us, event_id""".stripMargin,

    // Negative-sampling replay: identical rank/modulus arithmetic and
    // the same (lang, rank) resolve join.
    "q_neg_sample" ->
      s"""WITH ranked AS (
         |  SELECT lang, doc_id,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1 AS BIGINT) AS idx
         |  FROM documents),
         |sized AS (
         |  SELECT r.lang, r.doc_id, r.idx, c.cnt
         |  FROM ranked r JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS cnt
         |    FROM ranked GROUP BY lang) c ON r.lang = c.lang),
         |wants AS (
         |  SELECT lang, doc_id AS anchor_id, idx, cnt, i,
         |    (doc_id * 1000003 + i * 7919 + i) % cnt AS t
         |  FROM sized, LATERAL (SELECT unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT)]) AS i) u),
         |fixed AS (
         |  SELECT lang, anchor_id, i,
         |    CASE WHEN t = idx THEN (t + 1) % cnt ELSE t END AS target_idx
         |  FROM wants)
         |SELECT f.lang, f.anchor_id, f.i, r.doc_id AS negative_id
         |FROM fixed f JOIN ranked r ON f.lang = r.lang AND f.target_idx = r.idx
         |ORDER BY f.lang, f.anchor_id, f.i""".stripMargin,

    // Weighted-quantile replay: per-(grp,value) weight totals,
    // cumulative window, threshold cross via exact integer comparison.
    "q_weighted_quantile" ->
      s"""WITH pv AS (
         |  SELECT l_returnflag AS grp, CAST(round(l_quantity) AS BIGINT) AS v,
         |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cw
         |  FROM lineitem GROUP BY 1, 2),
         |cum AS (
         |  SELECT grp, v, cw,
         |    sum(cw) OVER (PARTITION BY grp ORDER BY v) AS cum
         |  FROM pv),
         |tot AS (SELECT grp, CAST(sum(cw) AS BIGINT) AS tot FROM pv GROUP BY grp)
         |SELECT cum.grp,
         |  min(CASE WHEN cum * 4 >= tot THEN v END) AS p25,
         |  min(CASE WHEN cum * 2 >= tot THEN v END) AS median,
         |  min(CASE WHEN cum * 4 >= tot * 3 THEN v END) AS p75,
         |  tot AS total_cents
         |FROM cum JOIN tot ON cum.grp = tot.grp
         |GROUP BY cum.grp, tot ORDER BY cum.grp""".stripMargin,

    // Gini replay: per-source token mass, ascending rank, the rank
    // identity at 10⁶ — all BIGINT.
    "q_gini_source" ->
      s"""WITH s AS (
         |  SELECT source, sum(CAST(len(${wordsSql("text")}) AS BIGINT)) AS x
         |  FROM documents GROUP BY source),
         |r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, source) AS BIGINT) AS i FROM s)
         |SELECT CAST(count(*) AS BIGINT) AS n_sources,
         |  CAST(sum(x) AS BIGINT) AS total_tokens,
         |  CAST(((2 * sum(i * x) - (count(*) + 1) * sum(x)) * 1000000)
         |    // (count(*) * sum(x)) AS BIGINT) AS gini_e6
         |FROM r""".stripMargin,

    // Disorder replay: running event-time max in arrival (event_id)
    // order per type; lateness vs the max over PRECEDING rows.
    "q_disorder" ->
      s"""WITH e AS (
         |  SELECT event_type, event_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events),
         |r AS (
         |  SELECT event_type, us,
         |    max(us) OVER (PARTITION BY event_type ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
         |  FROM e),
         |l AS (
         |  SELECT event_type,
         |    CASE WHEN runmax > us THEN runmax - us ELSE 0 END AS late_us
         |  FROM r)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
         |  CAST(max(late_us) AS BIGINT) AS max_late_us,
         |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS late_frac_e6
         |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,

    // MMR replay: exact-cosine top-8 candidates (1e6-floored sims),
    // bounded pair-sim table, then the 3 greedy picks UNROLLED — each
    // round scores remaining candidates 7·sq − 3·max(pair vs selected)
    // and takes the argmax with the id tie-break.
    "q_mmr" ->
      s"""WITH me0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |e AS (SELECT vec_id, ${normSql("v")} AS v FROM me0),
         |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
         |    CAST(floor(${dotSql("q.v", "c.v")} * 1000000.0) AS BIGINT) AS sq
         |  FROM e c JOIN e q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |cand AS (SELECT query_id, id, sq FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sq DESC, id) AS rnk
         |    FROM sc) WHERE rnk <= 8),
         |pr AS (SELECT a.query_id, a.id AS a, b.id AS b,
         |    CAST(floor(${dotSql("ea.v", "eb.v")} * 1000000.0) AS BIGINT) AS p_e6
         |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.id < b.id
         |  JOIN e ea ON ea.vec_id = a.id JOIN e eb ON eb.vec_id = b.id),
         |p1 AS (SELECT query_id, id, 7 * sq AS sc FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY 7 * sq DESC, id) AS rn
         |    FROM cand) WHERE rn = 1),
         |r2 AS (SELECT c.query_id, c.id, 7 * c.sq - 3 * pr.p_e6 AS sc
         |  FROM cand c JOIN p1 ON c.query_id = p1.query_id AND c.id <> p1.id
         |  JOIN pr ON pr.query_id = c.query_id
         |    AND pr.a = least(c.id, p1.id) AND pr.b = greatest(c.id, p1.id)),
         |p2 AS (SELECT query_id, id, sc FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, id) AS rn
         |    FROM r2) WHERE rn = 1),
         |r3 AS (SELECT c.query_id, c.id, 7 * c.sq - 3 * max(pr.p_e6) AS sc
         |  FROM cand c
         |  JOIN p1 ON c.query_id = p1.query_id AND c.id <> p1.id
         |  JOIN p2 ON c.query_id = p2.query_id AND c.id <> p2.id
         |  JOIN pr ON pr.query_id = c.query_id AND (
         |    (pr.a = least(c.id, p1.id) AND pr.b = greatest(c.id, p1.id)) OR
         |    (pr.a = least(c.id, p2.id) AND pr.b = greatest(c.id, p2.id)))
         |  GROUP BY c.query_id, c.id, c.sq),
         |p3 AS (SELECT query_id, id, sc FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, id) AS rn
         |    FROM r3) WHERE rn = 1)
         |SELECT query_id, pick, id AS neighbor_id, sc AS mmr_score FROM (
         |  SELECT query_id, 1 AS pick, id, sc FROM p1
         |  UNION ALL SELECT query_id, 2 AS pick, id, sc FROM p2
         |  UNION ALL SELECT query_id, 3 AS pick, id, sc FROM p3)
         |ORDER BY query_id, pick""".stripMargin,

    // MMR over the certified multi-table-LSH front: the candidate pool
    // is annMtCtes' scored pairs ranked top-8 (cs desc, id), sims
    // floor-1e6 of the same raw dots, then the identical greedy
    // 3-pick replay as q_mmr.
    "q_mmr_ann" ->
      s"""WITH $annMtCtes,
         |mc AS (SELECT query_id, id, sq FROM (
         |    SELECT query_id, neighbor_id AS id,
         |      CAST(floor(cs * 1000000.0) AS BIGINT) AS sq,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
         |    FROM scored) WHERE rnk <= 8),
         |mpr AS (SELECT a.query_id, a.id AS a, b.id AS b,
         |    CAST(floor(${dotSql("ea.v", "eb.v")} * 1000000.0) AS BIGINT) AS p_e6
         |  FROM mc a JOIN mc b ON a.query_id = b.query_id AND a.id < b.id
         |  JOIN e ea ON ea.vec_id = a.id JOIN e eb ON eb.vec_id = b.id),
         |mp1 AS (SELECT query_id, id, 7 * sq AS sc FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY 7 * sq DESC, id) AS rn
         |    FROM mc) WHERE rn = 1),
         |mr2 AS (SELECT c.query_id, c.id, 7 * c.sq - 3 * mpr.p_e6 AS sc
         |  FROM mc c JOIN mp1 ON c.query_id = mp1.query_id AND c.id <> mp1.id
         |  JOIN mpr ON mpr.query_id = c.query_id
         |    AND mpr.a = least(c.id, mp1.id) AND mpr.b = greatest(c.id, mp1.id)),
         |mp2 AS (SELECT query_id, id, sc FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, id) AS rn
         |    FROM mr2) WHERE rn = 1),
         |mr3 AS (SELECT c.query_id, c.id, 7 * c.sq - 3 * max(mpr.p_e6) AS sc
         |  FROM mc c
         |  JOIN mp1 ON c.query_id = mp1.query_id AND c.id <> mp1.id
         |  JOIN mp2 ON c.query_id = mp2.query_id AND c.id <> mp2.id
         |  JOIN mpr ON mpr.query_id = c.query_id AND (
         |    (mpr.a = least(c.id, mp1.id) AND mpr.b = greatest(c.id, mp1.id)) OR
         |    (mpr.a = least(c.id, mp2.id) AND mpr.b = greatest(c.id, mp2.id)))
         |  GROUP BY c.query_id, c.id, c.sq),
         |mp3 AS (SELECT query_id, id, sc FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, id) AS rn
         |    FROM mr3) WHERE rn = 1)
         |SELECT query_id, pick, id AS neighbor_id, sc AS mmr_score FROM (
         |  SELECT query_id, 1 AS pick, id, sc FROM mp1
         |  UNION ALL SELECT query_id, 2 AS pick, id, sc FROM mp2
         |  UNION ALL SELECT query_id, 3 AS pick, id, sc FROM mp3)
         |ORDER BY query_id, pick""".stripMargin,

    // RRF replay: two rankings over the same lang partition, integral
    // 1/(60+r) at 10⁹ scale, top-5 by fused score.
    "q_rrf" ->
      s"""WITH t AS (
         |  SELECT lang, doc_id, n_chars,
         |    CAST(len(${wordsSql("text")}) AS BIGINT) AS tokens
         |  FROM documents),
         |r AS (
         |  SELECT lang, doc_id,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS BIGINT) AS r1,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY tokens DESC, doc_id) AS BIGINT) AS r2
         |  FROM t),
         |f AS (
         |  SELECT lang, doc_id, r1, r2,
         |    CAST(1000000000 // (60 + r1) + 1000000000 // (60 + r2) AS BIGINT) AS rrf_e6
         |  FROM r),
         |k AS (
         |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY rrf_e6 DESC, doc_id) AS rk
         |  FROM f)
         |SELECT lang, doc_id, r1, r2, rrf_e6 FROM k WHERE rk <= 5
         |ORDER BY lang, rrf_e6 DESC, doc_id""".stripMargin,

    // Boolean retrieval replay: distinct postings of ≥4-char lowered
    // tokens, top-3 terms by (df desc, term), AND = count = 3.
    "q_bool_search" ->
      s"""WITH post AS (
         |  SELECT DISTINCT doc_id, term FROM (
         |    SELECT doc_id, unnest(${wordsSql("lower(text)")}) AS term FROM documents)
         |  WHERE length(term) >= 4),
         |terms AS (
         |  SELECT term FROM (SELECT term, count(*) AS df FROM post GROUP BY term)
         |  ORDER BY df DESC, term LIMIT 3)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
         |  count(*) = 3 AS all_matched
         |FROM post JOIN terms USING (term)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // SSSP replay: symmetrized min-cost edges, 16 MATERIALIZED
    // relaxation rounds (fixpoint is well under that at every SF;
    // rounds past fixpoint are no-ops — the q_kcore upper-bound
    // convention). Each round references its predecessor twice (the
    // keep branch and the relax branch), hence MATERIALIZED.
    "q_sssp" -> {
      def iter(prev: String, out: String): String =
        s"""$out AS MATERIALIZED (
           |  SELECT node, min(d) AS d FROM (
           |    SELECT node, d FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, s.d + e.w AS d
           |    FROM und e JOIN $prev s ON e.src = s.node) u
           |  GROUP BY node)""".stripMargin
      val rounds = (1 to 16).map(i => iter(s"s${i - 1}", s"s$i")).mkString(",\n")
      s"""WITH p AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |ed AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM p
         |  WHERE dst IS NOT NULL AND src <> dst GROUP BY src, dst),
         |und AS (SELECT src, dst, min(w) AS w FROM (
         |    SELECT src, dst, w FROM ed UNION ALL SELECT dst, src, w FROM ed) u GROUP BY src, dst),
         |s0 AS MATERIALIZED (SELECT min(src) AS node, CAST(0 AS BIGINT) AS d FROM und),
         |$rounds
         |SELECT node, d FROM s16 ORDER BY node""".stripMargin
    },

    // Stump replay: per-(feature,value) label counts, cumulative 2×2
    // confusion over the value support, chi²·10⁶ in HUGEINT, argmax by
    // (score desc, value asc). Top value excluded (nr = 0) on both.
    "q_stump" ->
      s"""WITH d AS (
         |  SELECT lang = 'en' AS pos, n_chars AS f_chars,
         |    CAST(len(${wordsSql("text")}) AS BIGINT) AS f_words
         |  FROM documents),
         |lng AS (
         |  SELECT 'n_chars' AS feature, f_chars AS v, pos FROM d
         |  UNION ALL SELECT 'n_words', f_words, pos FROM d),
         |pv AS (
         |  SELECT feature, v,
         |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
         |    sum(CASE WHEN pos THEN 0 ELSE 1 END) AS q
         |  FROM lng GROUP BY feature, v),
         |cum AS (
         |  SELECT feature, v,
         |    sum(p) OVER (PARTITION BY feature ORDER BY v) AS a,
         |    sum(q) OVER (PARTITION BY feature ORDER BY v) AS b
         |  FROM pv),
         |tot AS (SELECT feature, sum(p) AS pt, sum(q) AS qt FROM pv GROUP BY feature),
         |sc AS (
         |  SELECT cum.feature, v, a, b, pt, qt,
         |    CAST((CAST(a * qt - b * pt AS HUGEINT) * (a * qt - b * pt) * (pt + qt) * 1000000)
         |      // (pt * qt * (a + b) * (pt + qt - a - b)) AS BIGINT) AS chi2_e6,
         |    row_number() OVER (PARTITION BY cum.feature ORDER BY
         |      (CAST(a * qt - b * pt AS HUGEINT) * (a * qt - b * pt) * (pt + qt) * 1000000)
         |        // (pt * qt * (a + b) * (pt + qt - a - b)) DESC, v) AS rn
         |  FROM cum JOIN tot ON cum.feature = tot.feature
         |  WHERE pt + qt - a - b > 0)
         |SELECT feature, CAST(v AS BIGINT) AS threshold, chi2_e6,
         |  CAST(a AS BIGINT) AS pos_le, CAST(b AS BIGINT) AS neg_le,
         |  CAST(pt - a AS BIGINT) AS pos_gt, CAST(qt - b AS BIGINT) AS neg_gt
         |FROM sc WHERE rn = 1 ORDER BY feature""".stripMargin,

    // Snake deal replay: identical rank (tokens desc, doc_id) and
    // boustrophedon arithmetic; spread over the K aggregate rows.
    "q_shard_balance" ->
      s"""WITH t AS (
         |  SELECT lang, doc_id, CAST(len(${wordsSql("text")}) AS BIGINT) AS tokens
         |  FROM documents),
         |r AS (
         |  SELECT lang, tokens,
         |    row_number() OVER (PARTITION BY lang ORDER BY tokens DESC, doc_id) - 1 AS r
         |  FROM t),
         |a AS (
         |  SELECT lang,
         |    CAST(CASE WHEN (r // 4) % 2 = 0 THEN r % 4 ELSE 3 - r % 4 END AS BIGINT) AS shard,
         |    count(*) AS n_docs, sum(tokens) AS tokens
         |  FROM r GROUP BY 1, 2)
         |SELECT lang, shard, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(tokens AS BIGINT) AS tokens,
         |  CAST(max(tokens) OVER (PARTITION BY lang)
         |    - min(tokens) OVER (PARTITION BY lang) AS BIGINT) AS lang_spread
         |FROM a ORDER BY lang, shard""".stripMargin,

    // k-anonymity audit replay: two grouping levels, k = 5.
    "q_kanon" ->
      s"""WITH fine AS (
         |  SELECT 'nation+segment' AS level, count(*) AS sz
         |  FROM customer GROUP BY c_nationkey, c_mktsegment),
         |coarse AS (
         |  SELECT 'segment' AS level, count(*) AS sz
         |  FROM customer GROUP BY c_mktsegment),
         |u AS (SELECT * FROM fine UNION ALL SELECT * FROM coarse)
         |SELECT level, CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
         |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
         |  CAST(min(sz) AS BIGINT) AS min_size, CAST(max(sz) AS BIGINT) AS max_size,
         |  sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) = 0 AS k_satisfied
         |FROM u GROUP BY level ORDER BY level""".stripMargin,

    // OLS replay: HUGEINT sufficient statistics (DuckDB sum(BIGINT)
    // already returns HUGEINT), identical integral divisions; the r²
    // operands are pre-scaled // 1000 exactly as the Spark side.
    "q_linreg" ->
      s"""WITH b AS (
         |  SELECT l_returnflag AS grp,
         |    CAST(round(l_quantity) AS BIGINT) AS x,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
         |  FROM lineitem),
         |s AS (
         |  SELECT grp, CAST(count(*) AS HUGEINT) AS n,
         |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx,
         |    sum(CAST(x AS HUGEINT) * y) AS sxy,
         |    sum(CAST(y AS HUGEINT) * y) AS syy
         |  FROM b GROUP BY grp),
         |d AS (
         |  SELECT grp, n, sx, sy,
         |    n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
         |    n * syy - sy * sy AS tss
         |  FROM s)
         |SELECT grp, CAST(n AS BIGINT) AS n,
         |  CAST((num * 1000000) // den AS BIGINT) AS slope_e6,
         |  CAST(((sy * den - num * sx) * 1000000) // (n * den) AS BIGINT) AS icept_cents_e6,
         |  CAST(((num // 10000000) * (num // 10000000) * 1000000)
         |    // ((den // 1000) * (tss // 100000000000)) AS BIGINT) AS r2_e6
         |FROM d ORDER BY grp""".stripMargin,

    // Exact integer KS: per-(lang,value) counts, cumulative sums over
    // the value support, cross-multiplied diff, argmax by (diff desc,
    // value asc) via row_number.
    "q_ks_drift" ->
      s"""WITH pv AS (
         |  SELECT lang, n_chars AS v,
         |    sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
         |    sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS cb
         |  FROM documents GROUP BY lang, n_chars),
         |cum AS (
         |  SELECT lang, v,
         |    sum(ca) OVER (PARTITION BY lang ORDER BY v) AS fa,
         |    sum(cb) OVER (PARTITION BY lang ORDER BY v) AS fb
         |  FROM pv),
         |tot AS (SELECT lang, sum(ca) AS na, sum(cb) AS nb FROM pv GROUP BY lang),
         |d AS (
         |  SELECT cum.lang, na, nb, abs(fa * nb - fb * na) AS diff, v,
         |    row_number() OVER (PARTITION BY cum.lang ORDER BY abs(fa * nb - fb * na) DESC, v) AS rn
         |  FROM cum JOIN tot ON cum.lang = tot.lang)
         |SELECT lang, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
         |  CAST(diff AS BIGINT) AS d_num,
         |  CAST(diff * 1000000 // (na * nb) AS BIGINT) AS d_e6,
         |  CAST(v AS BIGINT) AS at_value
         |FROM d WHERE rn = 1 ORDER BY lang""".stripMargin,

    // HITS replay: integer max-normalized half-rounds, each CTE
    // MATERIALIZED (raw tables are referenced twice — by the rescale
    // and by its max — and DuckDB would otherwise inline 2^rounds
    // copies; the q_kcore lesson). HUGEINT widening mirrors the Spark
    // side's decimal(38,0); `//` and `div` both truncate toward zero.
    "q_hits" -> {
      def half(prev: String, prevCol: String, raw: String, probe: String,
               group: String, out: String, outCol: String): String =
        s"""$raw AS MATERIALIZED (
           |  SELECT $group AS gk, sum(CAST($prevCol AS HUGEINT) * w) AS r
           |  FROM ed JOIN $prev ON ed.$probe = $prev.node GROUP BY $group),
           |$out AS MATERIALIZED (
           |  SELECT node, CAST(coalesce(r, 0) * 1000000 // mx AS BIGINT) AS $outCol
           |  FROM nodes LEFT JOIN $raw ON nodes.node = $raw.gk
           |  CROSS JOIN (SELECT max(r) AS mx FROM $raw) m)""".stripMargin
      s"""WITH p AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |ed AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM p WHERE dst IS NOT NULL GROUP BY src, dst),
         |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
         |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes),
         |${half("h0", "hub", "a1r", "src", "dst", "a1", "auth")},
         |${half("a1", "auth", "h1r", "dst", "src", "h1", "hub")},
         |${half("h1", "hub", "a2r", "src", "dst", "a2", "auth")},
         |${half("a2", "auth", "h2r", "dst", "src", "h2", "hub")}
         |SELECT h2.node, hub, auth FROM h2 JOIN a2 ON h2.node = a2.node
         |ORDER BY h2.node""".stripMargin
    },

    // Synchronous LPA replay: symmetrized integer-weight edges, 4
    // unrolled rounds of (neighbor-label tally → argmax by weight desc,
    // label asc) — row_number == Spark's min-struct argmax because
    // (wt, label) is unique per (src, label) group.
    "q_label_prop" -> {
      def iter(i: Int): String =
        s"""t$i AS (SELECT e.src, l.label, CAST(sum(e.w) AS BIGINT) AS wt
           |  FROM und e JOIN lab${i - 1} l ON e.dst = l.node GROUP BY e.src, l.label),
           |lab$i AS (SELECT src AS node, label FROM (
           |    SELECT src, label, row_number() OVER (PARTITION BY src ORDER BY wt DESC, label) AS rn
           |    FROM t$i) WHERE rn = 1)""".stripMargin
      s"""WITH p AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |ed AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM p WHERE dst IS NOT NULL GROUP BY src, dst),
         |und AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
         |    SELECT src, dst, w FROM ed UNION ALL SELECT dst, src, w FROM ed) u GROUP BY src, dst),
         |lab0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)},
         |${iter(4)}
         |SELECT node, label FROM lab4 ORDER BY node""".stripMargin
    },

    // k-core peel replay: 8 unrolled rounds (fixpoint is 3-6 on this
    // data at every SF; rounds past fixpoint are no-ops, so the
    // unrolled count only needs to be an upper bound). Round i: keep =
    // vertices with ≥30 distinct neighbors, then restrict edges to
    // kept-on-both-ends.
    // Each round references its predecessor exactly ONCE (degrees via
    // two window counts instead of a keep-set join): DuckDB inlines
    // multiply-referenced CTEs, and a chain of double references would
    // expand 2^8 copies of the whole pipeline. An edge survives iff
    // BOTH endpoint degrees are ≥ k — identical to keep-set semantics
    // because the table is symmetrized.
    "q_kcore" -> {
      def iter(i: Int): String =
        s"""u$i AS (SELECT src, dst FROM (
           |  SELECT src, dst, count(*) OVER (PARTITION BY src) AS ds,
           |    count(*) OVER (PARTITION BY dst) AS dd FROM u${i - 1})
           |  WHERE ds >= 30 AND dd >= 30)""".stripMargin
      s"""WITH p AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |ed AS (SELECT DISTINCT src, dst FROM p WHERE dst IS NOT NULL AND src <> dst),
         |u0 AS (SELECT DISTINCT src, dst FROM
         |  (SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed) t),
         |${(1 to 8).map(iter).mkString(",\n")}
         |SELECT src AS node, count(*) AS deg FROM u8 GROUP BY src ORDER BY node""".stripMargin
    },

    // CCNet paragraph dedup replay: 20-token block segmentation (the
    // chunk_docs list_slice device), global first-occurrence by
    // min(packed doc·1e6+seg_idx) per segment hash, ordered string_agg
    // rebuild. Plant = base doc's first block + 20 plant-unique filler
    // tokens (lambda param jj — hSql's own lambda binds `i`).
    "q_para_dedup" ->
      s"""WITH pbase AS (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 95000,
         |    array_to_string(list_slice(${wordsSql("lower(text)")}, 1, 20), ' ') || ' ' ||
         |    array_to_string(list_transform(generate_series(1, 20),
         |      jj -> 'p' || CAST(doc_id + 95000 AS VARCHAR) || 'w' || CAST(jj AS VARCHAR)), ' ')
         |  FROM documents WHERE doc_id < 40),
         |${segBlockCtes("p", "pbase")},
         |pf AS (SELECT h, min(doc_id * 1000000 + seg_idx) AS fk FROM pseg GROUP BY h),
         |pk AS (SELECT pseg.doc_id, pseg.seg_idx, pseg.seg,
         |    (pseg.doc_id * 1000000 + pseg.seg_idx) = pf.fk AS keep
         |  FROM pseg JOIN pf USING (h))
         |SELECT doc_id, count(*) AS n_segs,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  md5(coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx), '')) AS clean_md5
         |FROM pk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // BFS relaxation replay: 6 unrolled rounds (eccentricity 2-3 at
    // every SF), each level MATERIALIZED because it is referenced twice
    // (carry + expand) and DuckDB would otherwise inline the whole
    // chain 2^6 times. The BFS invariant makes extra rounds no-ops.
    "q_bfs" -> {
      def iter(i: Int): String =
        s"""bd$i AS MATERIALIZED (SELECT node, min(d) AS d FROM (
           |  SELECT node, d FROM bd${i - 1}
           |  UNION ALL
           |  SELECT e.dst, bd${i - 1}.d + 1 FROM bu e JOIN bd${i - 1} ON e.src = bd${i - 1}.node) t
           |  GROUP BY node)""".stripMargin
      s"""WITH $partEdgeCtes,
         |bd0 AS (SELECT min(src) AS node, CAST(0 AS BIGINT) AS d FROM bu),
         |${(1 to 6).map(iter).mkString(",\n")}
         |SELECT node, d FROM bd6 ORDER BY node""".stripMargin
    },

    // Market-basket replay: distinct (order, part) items, per-order
    // pair self-join with support >= 2, both rule directions, one
    // rounded division each for confidence and lift.
    "q_assoc_rules" ->
      """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS x, b.l_partkey AS y, count(*) AS sup_pair
        |  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |it AS (SELECT l_partkey AS item, count(*) AS sup FROM d GROUP BY 1),
        |nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM d),
        |r AS (SELECT x AS ante, y AS cons, sup_pair FROM p
        |  UNION ALL SELECT y, x, sup_pair FROM p)
        |SELECT r.ante, r.cons, r.sup_pair,
        |  round(CAST(r.sup_pair AS DOUBLE) / ia.sup, 6) AS conf,
        |  round(CAST(nb.n_baskets * r.sup_pair AS DOUBLE) / (ia.sup * ic.sup), 6) AS lift
        |FROM r JOIN it ia ON ia.item = r.ante JOIN it ic ON ic.item = r.cons
        |CROSS JOIN nb
        |ORDER BY r.ante, r.cons""".stripMargin,

    // Positional trigram stream (the winnow gram CTE shape, gram kept
    // as text) probed by data-derived phrases (trigram at pos 5 of
    // every 97th doc).
    "q_phrase_search" ->
      s"""WITH ftoks AS (SELECT doc_id, pos, ws[pos + 1] AS tok, len(ws) AS ng FROM (
         |    SELECT doc_id, ${wordsSql("lower(text)")} AS ws FROM documents) s,
         |    LATERAL (SELECT unnest(range(len(ws))) AS pos) p),
         |fgr AS (SELECT doc_id, pos,
         |    tok || ' ' || lead(tok, 1) OVER wo || ' ' || lead(tok, 2) OVER wo AS gram, ng
         |  FROM ftoks WINDOW wo AS (PARTITION BY doc_id ORDER BY pos)),
         |fg AS (SELECT doc_id, pos, gram FROM fgr WHERE pos <= ng - 3),
         |fp AS (SELECT doc_id AS phrase_id, gram FROM fg WHERE pos = 5 AND doc_id % 97 = 0)
         |SELECT fp.phrase_id, fg.doc_id, count(*) AS n_hits,
         |  CAST(min(fg.pos) AS BIGINT) AS first_pos
         |FROM fg JOIN fp USING (gram)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Integer-exact PCA power iteration replay: 1e6-quantized vectors,
    // exact Gram (HUGEINT sums == Spark's decimal(38,0)), matrix
    // normalized once to 1e6-scaled integers, then 3 unrolled
    // max-normalized matvec rounds — the only float op per round is
    // one correctly-rounded double division on identical operands.
    // g6 MATERIALIZED: each round references it, and inlining would
    // re-evaluate the Gram subtree per round.
    "q_pca_power" -> {
      def iter(i: Int): String =
        s"""py$i AS (SELECT ii, CAST(sum(w * v) AS BIGINT) AS y
           |  FROM g6 JOIN pv${i - 1} USING (jj) GROUP BY ii),
           |pv$i AS (SELECT ii AS jj, CAST(round(CAST(y AS DOUBLE)
           |    / max(CAST(abs(y) AS DOUBLE)) OVER () * 1000000.0, 0) AS BIGINT) AS v
           |  FROM py$i)""".stripMargin
      s"""WITH eq AS (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS q
         |  FROM embeddings),
         |gp AS (SELECT a.ii, b.jj, q[a.ii + 1] * q[b.jj + 1] AS p FROM eq,
         |  LATERAL (SELECT unnest(range(len(q))) AS ii) a,
         |  LATERAL (SELECT unnest(range(len(q))) AS jj) b),
         |gg AS (SELECT ii, jj, sum(p) AS g FROM gp GROUP BY ii, jj),
         |mg AS (SELECT max(abs(g)) AS mg FROM gg),
         |g6 AS MATERIALIZED (SELECT ii, jj,
         |    CAST(round(CAST(g AS DOUBLE) / CAST(mg AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS w
         |  FROM gg CROSS JOIN mg),
         |pv0 AS (SELECT DISTINCT jj, CAST(1000000 AS BIGINT) AS v FROM g6),
         |${(1 to 3).map(iter).mkString(",\n")},
         |px AS (SELECT vec_id, z.jj, q[z.jj + 1] AS qv FROM eq,
         |  LATERAL (SELECT unnest(range(len(q))) AS jj) z)
         |SELECT vec_id, CAST(sum(qv * v) AS BIGINT) AS pc1_e12
         |FROM px JOIN pv3 USING (jj)
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },

    // Personalized-pagerank replay: same edge/share CTEs as q_pagerank,
    // teleport mass only on the node%50=0 seed set (count broadcast),
    // 3 unrolled rounds with per-round round-6.
    "q_ppr" -> {
      def iter(prev: String, out: String): String =
        s"""$out AS (
           |  SELECT node, round(CASE WHEN node % 50 = 0 THEN 150.0 / ns ELSE 0.0 END
           |      + 0.85 * coalesce(c, 0.0), 6) AS pr
           |  FROM nodes CROSS JOIN sn LEFT JOIN (
           |    SELECT dst, sum(pr * share) AS c
           |    FROM e2 JOIN $prev ON e2.src = $prev.node GROUP BY dst) t
           |  ON nodes.node = t.dst)""".stripMargin
      s"""WITH p AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |ed AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM p WHERE dst IS NOT NULL GROUP BY src, dst),
         |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
         |sn AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM nodes WHERE node % 50 = 0),
         |ow AS (SELECT src, sum(w) AS outw FROM ed GROUP BY src),
         |e2 AS (SELECT ed.src, ed.dst, ed.w / ow.outw AS share FROM ed JOIN ow USING (src)),
         |pp0 AS (SELECT node, round(CASE WHEN node % 50 = 0 THEN 1000.0 / ns ELSE 0.0 END, 6) AS pr
         |  FROM nodes CROSS JOIN sn),
         |${iter("pp0", "pp1")},
         |${iter("pp1", "pp2")},
         |${iter("pp2", "pp3")}
         |SELECT node, pr FROM pp3 ORDER BY node""".stripMargin
    },

    // Incremental paragraph dedup: corpus (even ids) distilled to a
    // DISTINCT segment-hash index; a batch (odd ids + corpus-copy and
    // batch-copy plants) segment survives iff its hash is absent from
    // the corpus AND it is the batch's own first occurrence.
    "q_para_dedup_incr" ->
      s"""WITH icorp AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |${segBlockCtes("ic", "icorp")},
         |ih AS (SELECT DISTINCT h FROM icseg),
         |ibatch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL
         |  SELECT doc_id + 96000, text FROM documents WHERE doc_id % 2 = 0 AND doc_id < 80
         |  UNION ALL
         |  SELECT doc_id + 97000, text FROM documents WHERE doc_id % 2 = 1 AND doc_id < 80),
         |${segBlockCtes("iy", "ibatch")},
         |ibf AS (SELECT h, min(doc_id * 1000000 + seg_idx) AS bf FROM iyseg GROUP BY h),
         |ik AS (SELECT iyseg.doc_id, iyseg.seg_idx, iyseg.seg,
         |    (ih.h IS NULL AND (iyseg.doc_id * 1000000 + iyseg.seg_idx) = ibf.bf) AS keep
         |  FROM iyseg JOIN ibf USING (h) LEFT JOIN ih USING (h))
         |SELECT doc_id, count(*) AS n_segs,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  md5(coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx), '')) AS clean_md5
         |FROM ik GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Link-prediction features: cn = |N(x) ∩ N(y)| counted by the plain
    // two-hop join (the Spark side's degree-oriented wedge enumeration
    // is orientation-invariant in its output); single rounded division.
    "q_link_pred" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |und AS (SELECT x AS src, y AS dst FROM e UNION ALL SELECT y, x FROM e),
        |d AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY src),
        |c AS (SELECT e.x, e.y, count(*) AS cn
        |  FROM e JOIN und a ON a.src = e.x JOIN und b ON b.src = e.y AND b.dst = a.dst
        |  GROUP BY e.x, e.y)
        |SELECT e.x, e.y, coalesce(c.cn, CAST(0 AS BIGINT)) AS cn,
        |  dx.deg AS dx, dy.deg AS dy,
        |  round(CAST(coalesce(c.cn, 0) AS DOUBLE)
        |    / (dx.deg + dy.deg - coalesce(c.cn, 0)), 6) AS jaccard
        |FROM e LEFT JOIN c ON c.x = e.x AND c.y = e.y
        |JOIN d dx ON dx.node = e.x JOIN d dy ON dy.node = e.y
        |ORDER BY e.x, e.y""".stripMargin,

    // Island rule replaying session_window's END-EXCLUSIVE merge: the
    // running session end is max(s + gap) over prior events; an event
    // AT the end (s >= prev_end) opens a new session.
    "q_session_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s FROM events),
        |m AS (SELECT *, max(s + 1800000000) OVER (PARTITION BY user_id ORDER BY s, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM e),
        |f AS (SELECT *, CASE WHEN prev_end IS NULL OR s >= prev_end THEN 1 ELSE 0 END AS ni FROM m),
        |i AS (SELECT *, CAST(sum(ni) OVER (PARTITION BY user_id ORDER BY s, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM f)
        |SELECT user_id, min(s) AS start_us, max(s) + 1800000000 AS end_us, count(*) AS n_events
        |FROM i GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,

    "q_histogram_eqdepth" ->
      """WITH r AS (SELECT event_type, event_id, value,
        |    CAST(ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS quartile
        |  FROM events)
        |SELECT event_type, quartile, count(*) AS n_events,
        |  round(min(value), 2) AS v_min, round(max(value), 2) AS v_max
        |FROM r GROUP BY event_type, quartile
        |ORDER BY event_type, quartile""".stripMargin,

    "q_zorder" -> {
      def spread(x: String): String = {
        val s1 = s"(($x | ($x << 8)) & 16711935)"     // 0x00FF00FF
        val s2 = s"(($s1 | ($s1 << 4)) & 252645135)"  // 0x0F0F0F0F
        val s3 = s"(($s2 | ($s2 << 2)) & 858993459)"  // 0x33333333
        s"(($s3 | ($s3 << 1)) & 1431655765)"          // 0x55555555
      }
      s"""WITH d AS (SELECT c_custkey, c_custkey % 65536 AS dim_a,
         |    CAST(round(c_acctbal * 100, 0) AS BIGINT) & 65535 AS dim_b FROM customer),
         |z AS (SELECT c_custkey, dim_a, dim_b,
         |    ${spread("dim_a")} | (${spread("dim_b")} << 1) AS zval FROM d)
         |SELECT c_custkey, dim_a, dim_b, zval,
         |  row_number() OVER (ORDER BY zval, c_custkey) AS zpos
         |FROM z ORDER BY zpos""".stripMargin
    },

    "q_quantize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx FROM e),
        |c AS (SELECT vec_id, list_transform(v, x -> CAST(round(x * 127.0 / mx, 0) AS BIGINT)) AS codes FROM m)
        |SELECT vec_id, CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
        |  list_aggregate(codes, 'min') AS code_min,
        |  list_aggregate(codes, 'max') AS code_max
        |FROM c ORDER BY vec_id""".stripMargin,

    "q_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_type
        |      FROM e),
        |f AS (SELECT user_id, event_id, event_type, us FROM c
        |      WHERE prev_type IS NULL OR event_type <> prev_type)
        |SELECT user_id, event_type, us AS valid_from_us,
        |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to_us
        |FROM f
        |ORDER BY user_id, valid_from_us""".stripMargin,

    "q_event_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |l AS (SELECT event_type,
        |    lag(event_type, 1) OVER w AS p1, lag(event_type, 2) OVER w AS p2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |p AS (SELECT p2 || ' > ' || p1 || ' > ' || event_type AS path
        |      FROM l WHERE p2 IS NOT NULL)
        |SELECT path, count(*) AS n_paths FROM p GROUP BY path
        |ORDER BY n_paths DESC, path LIMIT 20""".stripMargin,

    "q_profile" ->
      """SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  count(DISTINCT o_custkey) AS n_distinct,
        |  CAST(min(o_custkey) AS DOUBLE) AS min_num, CAST(max(o_custkey) AS DOUBLE) AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*),
        |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_totalprice),
        |  round(min(o_totalprice), 2), round(max(o_totalprice), 2), NULL, NULL
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*),
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_orderstatus),
        |  NULL, NULL, min(o_orderstatus), max(o_orderstatus)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*),
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_orderpriority),
        |  NULL, NULL, min(o_orderpriority), max(o_orderpriority)
        |FROM orders
        |ORDER BY column_name""".stripMargin,

    "q_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |w AS (SELECT e1.x AS ta, e1.y AS tb, e2.y AS tc
        |      FROM e e1 JOIN e e2 ON e1.y = e2.x),
        |t AS (SELECT w.ta, w.tb, w.tc FROM w JOIN e ON w.ta = e.x AND w.tc = e.y)
        |SELECT count(*) AS n_triangles, min(ta) AS min_node, max(tc) AS max_node,
        |  CAST(sum(ta + tb + tc) AS BIGINT) AS node_sum
        |FROM t""".stripMargin,

    "q_tpch3" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_tpch5" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_rolling_median" ->
      """WITH e AS (SELECT event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100, 0) AS BIGINT) AS c FROM events)
        |SELECT event_id, event_type, us,
        |  CAST(2 * quantile_cont(c, 0.5) OVER (PARTITION BY event_type ORDER BY us, event_id
        |    ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) AS BIGINT) AS med2
        |FROM e ORDER BY event_id""".stripMargin,

    "q_dau_cume" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d FROM events),
        |dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY d),
        |fs AS (SELECT user_id, min(d) AS d FROM ud GROUP BY user_id),
        |nu AS (SELECT d, count(*) AS new_users FROM fs GROUP BY d)
        |SELECT dau.d, dau.dau, coalesce(nu.new_users, 0) AS new_users,
        |  CAST(sum(coalesce(nu.new_users, 0)) OVER (ORDER BY dau.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cume_users
        |FROM dau LEFT JOIN nu ON dau.d = nu.d
        |ORDER BY dau.d""".stripMargin,

    // Global level-based skyline — identical output to the sharded
    // local-then-merge pass (skylines are distributive).
    "q_skyline" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice AS p,
        |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS dt FROM orders),
        |lvl AS (SELECT p, max(dt) AS lvl_max FROM o GROUP BY p),
        |c1 AS (SELECT p, max(lvl_max) OVER (ORDER BY p DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM lvl),
        |c2 AS (SELECT p, lag(cum) OVER (ORDER BY p DESC) AS dom_dt FROM c1)
        |SELECT o.o_orderkey, round(o.p, 2) AS price, o.dt AS date_us
        |FROM o JOIN c2 ON o.p = c2.p
        |WHERE c2.dom_dt IS NULL OR o.dt >= c2.dom_dt
        |ORDER BY o.o_orderkey""".stripMargin,

    // NOT EXISTS (not NOT IN): matches the Spark side's LEFT ANTI
    // semantics exactly even on nullable FK columns — NOT IN goes
    // UNKNOWN on a NULL FK and silently drops the orphan row.
    "q_integrity" ->
      """SELECT 'customer.c_nationkey->nation' AS fk_edge, count(*) AS n_orphans
        |FROM customer c WHERE NOT EXISTS
        |  (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        |UNION ALL
        |SELECT 'lineitem.l_orderkey->orders', count(*)
        |FROM lineitem l WHERE NOT EXISTS
        |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'orders.o_custkey->customer', count(*)
        |FROM orders o WHERE NOT EXISTS
        |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |ORDER BY fk_edge""".stripMargin,

    "q_tpch7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
        |FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q_tpch10" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal, n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_tpch12" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    "q_tpch14" ->
      """SELECT
        |  CAST(round(sum(CASE WHEN p_type = 'PROMO'
        |        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))
        |        ELSE CAST(0 AS DECIMAL(30,8)) END), 2) AS DOUBLE) AS promo_rev,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS total_rev,
        |  round(100.0 * CAST(round(sum(CASE WHEN p_type = 'PROMO'
        |        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))
        |        ELSE CAST(0 AS DECIMAL(30,8)) END), 2) AS DOUBLE)
        |    / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE), 6) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,

    // Q17 shape: decorrelated per-part (sum, count); the 0.2*avg
    // comparison in exact integers (qty*5*cnt < sum); avg_yearly from
    // exact cents with the shared floor(x+0.5) half-up convention.
    "q_tpch17" ->
      """WITH fp AS (SELECT p_partkey FROM part
        |            WHERE p_brand = 'Brand#23' AND p_size < 30),
        |lp AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, l_extendedprice
        |       FROM lineitem JOIN fp ON l_partkey = p_partkey),
        |ag AS (SELECT l_partkey AS agg_pk, sum(qty) AS qty_sum, count(*) AS qty_cnt
        |       FROM lp GROUP BY 1)
        |SELECT floor((sum(round(l_extendedprice * 100)) / 7) + 0.5) / 100.0 AS avg_yearly,
        |  count(*) AS n_small
        |FROM lp JOIN ag ON lp.l_partkey = ag.agg_pk
        |WHERE qty * 5 * qty_cnt < qty_sum""".stripMargin,

    // Q20 shape: nested semi-joins over one shared windowed fact slice;
    // 0.5*total comparison in exact integers (2*sq > tq).
    "q_tpch20" ->
      """WITH fl AS (
        |  SELECT l_suppkey, l_partkey, CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')),
        |sp AS (SELECT l_suppkey, l_partkey, sum(qty) AS sq FROM fl GROUP BY 1, 2),
        |tp AS (SELECT l_partkey, sum(qty) AS tq FROM fl GROUP BY 1)
        |SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_1', 'NATION_3', 'NATION_7', 'NATION_12', 'NATION_19')
        |  AND s_suppkey IN (SELECT sp.l_suppkey FROM sp JOIN tp USING (l_partkey)
        |                    WHERE 2 * sq > tq)
        |ORDER BY s_suppkey""".stripMargin,

    // Q21 shape: the double-EXISTS family with inequality correlation
    // (another supplier's line / another supplier's FLAGGED line in the
    // same order); 'R' return flag stands in for the missing
    // receipt-vs-commit lateness.
    "q_tpch21" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |  AND s_nationkey = n_nationkey AND n_name LIKE 'NATION_1%'
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin,

    // Q22 shape: uncorrelated scalar-aggregate threshold + NOT EXISTS,
    // grouped by a derived code; the above-average compare is exact
    // integer cents (cents*count > total) so no float boundary drifts.
    "q_tpch22" ->
      """WITH cc AS (SELECT c_custkey, c_acctbal,
        |              CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |            FROM customer),
        |st AS (SELECT count(*) AS n_pos, sum(bal_cents) AS tot_cents
        |       FROM cc WHERE c_acctbal > 0),
        |noord AS (SELECT cc.* FROM cc, st
        |          WHERE bal_cents * n_pos > tot_cents
        |            AND NOT EXISTS (SELECT 1 FROM orders
        |                            WHERE o_custkey = c_custkey
        |                              AND o_orderpriority = '1-URGENT'))
        |SELECT c_custkey % 7 AS cntrycode, count(*) AS numcust,
        |  round(sum(c_acctbal), 2) AS totbal
        |FROM noord GROUP BY 1 ORDER BY 1""".stripMargin,

    // Q13 shape: outer join with the filter INSIDE the join condition
    // (zero-order customers must survive), then a double aggregation.
    "q_tpch13" ->
      """WITH pc AS (SELECT c_custkey, count(o_orderkey) AS c_count
        |            FROM customer LEFT OUTER JOIN orders
        |              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |            GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist FROM pc
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // Q19 shape: OR-of-ANDs sharing the p_partkey=l_partkey conjunct;
    // revenue via exact decimal sum (2dp products land on half-cents).
    "q_tpch19" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // Q6 shape: zero-join pushdown aggregate; discount bounds compare
    // the same parquet doubles against the same double literals.
    "q_tpch6" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice * l_discount
        |    AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,

    // Q15 shape: revenue view used twice — max scalar + join-back;
    // equality is on the SAME 2dp decimal both engines produce.
    "q_tpch15" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(30,8))), 2) AS DOUBLE) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-07-01' AND l_shipdate < TIMESTAMP '1997-10-01'
        |  GROUP BY l_suppkey),
        |m AS (SELECT max(total_rev) AS mr FROM rev)
        |SELECT s_suppkey, s_name, total_rev
        |FROM rev JOIN m ON total_rev = mr
        |  JOIN supplier ON s_suppkey = l_suppkey
        |ORDER BY s_suppkey""".stripMargin,

    // Q8 shape: region-scoped denominator, nation-marked numerator,
    // per-year conditional-aggregation ratio (q_tpch14 discipline:
    // exact decimal sums BEFORE the one double division).
    "q_tpch8" ->
      """WITH asia_c AS (SELECT c_custkey FROM customer
        |    JOIN nation ON c_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |sn AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |       JOIN nation ON s_nationkey = n_nationkey),
        |v AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, supp_nation,
        |        CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8)) AS vol
        |      FROM lineitem
        |        JOIN part ON l_partkey = p_partkey
        |        JOIN sn ON l_suppkey = s_suppkey
        |        JOIN orders ON l_orderkey = o_orderkey
        |        JOIN asia_c ON o_custkey = c_custkey
        |      WHERE p_type = 'ECONOMY'
        |        AND o_orderdate >= TIMESTAMP '1996-01-01'
        |        AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |  CAST(round(sum(CASE WHEN supp_nation = 'NATION_7' THEN vol
        |    ELSE CAST(0 AS DECIMAL(30,8)) END), 2) AS DOUBLE) AS nation_rev,
        |  CAST(round(sum(vol), 2) AS DOUBLE) AS total_rev,
        |  round(CAST(round(sum(CASE WHEN supp_nation = 'NATION_7' THEN vol
        |      ELSE CAST(0 AS DECIMAL(30,8)) END), 2) AS DOUBLE)
        |    / CAST(round(sum(vol), 2) AS DOUBLE), 6) AS mkt_share
        |FROM v GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q_tpch18" ->
      """WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        |             FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 150)
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  round(o_totalprice, 2) AS total_price, total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_price DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_hopping" ->
      """WITH e AS (SELECT event_type, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |h AS (SELECT event_type, value,
        |    (us // 900000000) * 900000000 - i * 900000000 AS win_start_us
        |  FROM e CROSS JOIN (SELECT unnest(range(4)) AS i))
        |SELECT win_start_us, event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS value_sum
        |FROM h GROUP BY win_start_us, event_type
        |ORDER BY win_start_us, event_type""".stripMargin,

    "q_regexp_extract" ->
      """WITH w AS (SELECT unnest(regexp_extract_all(lower(text), '[aeiou][a-z]{3,}')) AS word
        |           FROM documents)
        |SELECT word, count(*) AS n_hits FROM w GROUP BY word
        |ORDER BY n_hits DESC, word LIMIT 50""".stripMargin,

    // Integer-exact robust gate: 2·quantile_cont of integers is an exact
    // integer (interpolation lands on halves), so the outlier comparison
    // 2·dev > 3·mad4 never touches a float boundary (q_zscore's trick
    // applied to the median/MAD statistic).
    "q_mad" ->
      """WITH e AS (SELECT event_id, event_type, value,
        |    CAST(round(value * 100, 0) AS BIGINT) AS c FROM events),
        |med AS (SELECT event_type, CAST(2 * quantile_cont(c, 0.5) AS BIGINT) AS m2
        |        FROM e GROUP BY event_type),
        |d AS (SELECT e.event_id, e.event_type, abs(2 * c - m2) AS dev
        |      FROM e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, CAST(2 * quantile_cont(dev, 0.5) AS BIGINT) AS mad4
        |        FROM d GROUP BY event_type)
        |SELECT d.event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN 2 * dev > 3 * mad4 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (event_type)
        |GROUP BY d.event_type
        |ORDER BY d.event_type""".stripMargin,

    // Anomaly-days replay: daily counts, the 2-median/4-MAD integer
    // trick, worst-day argmax by (deviation desc, day asc).
    "q_anomaly_days" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type, CAST(2 * quantile_cont(c, 0.5) AS BIGINT) AS m2
        |        FROM daily GROUP BY event_type),
        |d AS (SELECT daily.*, abs(2 * c - m2) AS dev
        |      FROM daily JOIN med USING (event_type)),
        |mad AS (SELECT event_type, CAST(2 * quantile_cont(dev, 0.5) AS BIGINT) AS mad4
        |        FROM d GROUP BY event_type),
        |f AS (SELECT d.*, 2 * dev > 3 * mad4 AS anom,
        |        row_number() OVER (PARTITION BY d.event_type ORDER BY dev DESC, day) AS rn
        |      FROM d JOIN mad USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(CASE WHEN anom THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
        |  CAST(max(CASE WHEN rn = 1 THEN day END) AS BIGINT) AS worst_day,
        |  CAST(max(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS worst_count
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_zipf" ->
      """WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents),
        |g AS (SELECT token, count(*) AS cnt FROM t WHERE length(token) >= 2 GROUP BY token),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS vocab_id FROM g),
        |xy AS (SELECT ln(CAST(vocab_id AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
        |       FROM r WHERE vocab_id <= 200),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
        |FROM s""".stripMargin,

    "q_ignore_nulls" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |    CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 2) END AS nb
        |  FROM customer)
        |SELECT c_custkey, c_mktsegment, nb,
        |  lag(nb IGNORE NULLS) OVER w AS prev_nb,
        |  last_value(nb IGNORE NULLS) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff_nb
        |FROM c
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    // NULLIF pins div-by-zero → NULL explicitly (mirrors Spark
    // try_divide) instead of relying on DuckDB's non-IEEE `/` mode.
    "q_try_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice / NULLIF(l_linenumber - 1, 0), 6) AS per_prev_line,
        |  CAST(TRY_CAST(l_returnflag AS INTEGER) AS BIGINT) AS flag_as_int,
        |  CAST(TRY_CAST(CAST(l_orderkey AS VARCHAR) AS INTEGER) AS BIGINT) AS roundtrip_key
        |FROM lineitem WHERE l_orderkey < 500
        |ORDER BY l_orderkey, l_linenumber, per_prev_line""".stripMargin,

    "q_bm25" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |             FROM documents),
        |t2 AS (SELECT doc_id, token FROM tok WHERE length(token) >= 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY doc_id),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM t2
        |       WHERE token IN ('hash', 'join', 'vector') GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |s AS (SELECT tf.doc_id,
        |        ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
        |        (tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS s
        |      FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN st)
        |SELECT doc_id, count(*) AS n_terms_matched, round(sum(s), 6) AS bm25
        |FROM s GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_confusion" ->
      s"""WITH e0 AS (SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nrm AS (SELECT vec_id, label, ${normSql("v")} AS v FROM e0),
         |sc AS (SELECT q.vec_id AS query_id, q.label AS true_label,
         |         c.vec_id AS neighbor_id, c.label AS n_label, ${dotSql("q.v", "c.v")} AS cos
         |       FROM nrm c JOIN (SELECT * FROM nrm WHERE vec_id < 500) q
         |         ON c.vec_id <> q.vec_id),
         |top AS (SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM sc) WHERE rnk <= 3),
         |votes AS (SELECT query_id, true_label, n_label, count(*) AS votes
         |          FROM top GROUP BY query_id, true_label, n_label),
         |pred AS (SELECT query_id, true_label, n_label AS pred_label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, n_label) AS vr
         |    FROM votes) WHERE vr = 1)
         |SELECT true_label, pred_label, count(*) AS n
         |FROM pred GROUP BY true_label, pred_label
         |ORDER BY true_label, pred_label""".stripMargin,

    "q_ndcg" ->
      s"""WITH e0 AS (SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nrm AS (SELECT vec_id, label, ${normSql("v")} AS v FROM e0),
         |sc AS (SELECT q.vec_id AS query_id, q.label AS true_label,
         |         c.vec_id AS neighbor_id, c.label AS n_label, ${dotSql("q.v", "c.v")} AS cos
         |       FROM nrm c JOIN (SELECT * FROM nrm WHERE vec_id < 50) q
         |         ON c.vec_id <> q.vec_id),
         |top AS (SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM sc) WHERE rnk <= 5),
         |agg AS (SELECT query_id,
         |    CAST(sum(CASE WHEN n_label = true_label THEN 1.0 ELSE 0.0 END) AS BIGINT) AS n_rel,
         |    sum((CASE WHEN n_label = true_label THEN 1.0 ELSE 0.0 END) / (ln(rnk + 1.0) / ln(2.0))) AS dcg
         |  FROM top GROUP BY query_id)
         |SELECT query_id, n_rel,
         |  CASE WHEN n_rel = 0 THEN 0.0 ELSE round(dcg / list_reduce(
         |    list_transform(range(1, n_rel + 1), i -> 1.0 / (ln(i + 1.0) / ln(2.0))), (a, b) -> a + b), 6) END AS ndcg
         |FROM agg
         |ORDER BY query_id""".stripMargin,

    // Contract oracle (q_approx_distinct pattern): CMS can only
    // over-count, by at most eps·N w.h.p. — the boolean is literal TRUE,
    // the exact counts pin the estimates' anchor.
    "q_cms" ->
      """SELECT l_partkey, count(*) AS n_exact, TRUE AS within_bound
        |FROM lineitem WHERE l_partkey < 5
        |GROUP BY l_partkey
        |ORDER BY l_partkey""".stripMargin,

    // Q2 family: correlated scalar MIN decorrelated; supply cost in
    // exact integer cents so the min-equality can't float-straddle.
    "q_tpch2" ->
      """WITH sup AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |       JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |supply AS (
        |  SELECT l_partkey, l_suppkey, s_name, s_acctbal, n_name,
        |    min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_cents
        |  FROM lineitem JOIN sup ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2, 3, 4, 5),
        |mc AS (SELECT l_partkey, min(cost_cents) AS min_cents FROM supply GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost_cents
        |FROM supply JOIN mc USING (l_partkey)
        |     JOIN part ON l_partkey = p_partkey
        |WHERE cost_cents = min_cents AND p_type = 'LARGE' AND p_size <= 10
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    // Q4 family: correlated EXISTS with a non-equi date residual.
    "q_tpch4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // Q9 family: name-filtered part dim, profit as exact decimal sum
    // (retailprice*qty/10 stands in for ps_supplycost).
    "q_tpch9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |    - p_retailprice * l_quantity * 0.1 AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin,

    // Q11 family: group value vs an exact-integer fraction of the
    // uncorrelated global total (value_cents * 10000 > total_cents).
    "q_tpch11" ->
      """WITH supn AS (
        |  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_12'),
        |v AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS value_cents
        |  FROM lineitem JOIN supn ON l_suppkey = s_suppkey
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents FROM v)
        |SELECT l_partkey, value_cents
        |FROM v CROSS JOIN t
        |WHERE value_cents * 10000 > total_cents
        |ORDER BY value_cents DESC, l_partkey""".stripMargin,

    // Q16 family: DISTINCT fact pairs (the partsupp stand-in), NOT-IN
    // complaint suppliers as an anti join, distinct-count aggregate.
    "q_tpch16" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM pairs JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 9, 17, 25, 33, 41, 49, 50)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // Shard export: same salted hash mod 16, BPE-ish token counts.
    "q_export_shards" ->
      s"""SELECT ${hSql("'shard:' || CAST(doc_id AS VARCHAR)")} % 16 AS shard,
         |  count(*) AS n_docs,
         |  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         |FROM documents
         |GROUP BY shard
         |ORDER BY shard""".stripMargin,

    // OOV rate: top-200 vocab slice, left-join coverage, exact-ppm rates.
    "q_oov_rate" ->
      s"""WITH toks AS (
         |  SELECT lang, tok FROM (
         |    SELECT lang, unnest(${wordsSql("lower(text)")}) AS tok FROM documents) u
         |  WHERE length(tok) >= 2),
         |tf AS (SELECT lang, tok, count(*) AS n FROM toks GROUP BY lang, tok),
         |vc AS (SELECT tok, CAST(sum(n) AS BIGINT) AS cnt FROM tf GROUP BY tok),
         |vocab AS (SELECT tok FROM vc ORDER BY cnt DESC, tok LIMIT 200)
         |SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN v.tok IS NULL THEN n ELSE 0 END) AS BIGINT) AS n_oov,
         |  CAST(CAST(sum(CASE WHEN v.tok IS NULL THEN n ELSE 0 END) AS BIGINT) * 1000000
         |    // CAST(sum(n) AS BIGINT) AS BIGINT) AS oov_ppm
         |FROM tf LEFT JOIN vocab v USING (tok)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // DSIR replay: same hashed buckets (salted md5), add-1 target/raw
    // unigram models, ONE ln per bucket micro6-rounded, then the doc
    // score is an exact integer Σ n·w_micro — ranking can't float-flip.
    "q_dsir" ->
      s"""WITH tb AS (
         |  SELECT doc_id, lang, ${hSql("'dsir:' || tok")} % 1024 AS bucket FROM (
         |    SELECT doc_id, lang, unnest(${wordsSql("lower(text)")}) AS tok FROM documents) u
         |  WHERE length(tok) >= 2),
         |pb AS (SELECT bucket,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cr
         |  FROM tb GROUP BY bucket),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM pb),
         |w AS (SELECT bucket, CAST(floor(ln(
         |    (CAST(ct + 1 AS DOUBLE) * CAST(nr + 1024 AS DOUBLE)) /
         |    (CAST(cr + 1 AS DOUBLE) * CAST(nt + 1024 AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS w_micro
         |  FROM pb CROSS JOIN tot),
         |dc AS (SELECT doc_id, lang, bucket, count(*) AS n
         |  FROM tb WHERE lang <> 'en' GROUP BY doc_id, lang, bucket)
         |SELECT doc_id, lang, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(sum(n * w_micro) AS BIGINT) AS score_micro
         |FROM dc JOIN w USING (bucket)
         |GROUP BY doc_id, lang
         |ORDER BY score_micro DESC, doc_id
         |LIMIT 50""".stripMargin,

    // NB replay: per-(label,bucket) micro-int likelihood deltas over the
    // per-label unseen default, integer-exact scores, argmax with label
    // ascending ties — identical to Classify.nbTrain/nbPredict.
    "q_nb_classifier" ->
      s"""WITH tr AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
         |te AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
         |trb AS (
         |  SELECT lang AS label, ${hSql("'nb:' || tok")} % 1024 AS bucket FROM (
         |    SELECT lang, unnest(${wordsSql("lower(text)")}) AS tok FROM tr) u
         |  WHERE length(tok) >= 2),
         |c AS (SELECT label, bucket, count(*) AS cnt FROM trb GROUP BY label, bucket),
         |nl AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS n_l FROM c GROUP BY label),
         |dl AS (SELECT lang AS label, count(*) AS d_l FROM tr GROUP BY lang),
         |dt AS (SELECT CAST(sum(d_l) AS BIGINT) AS d FROM dl),
         |ls AS (SELECT label,
         |    CAST(floor(ln(CAST(d_l AS DOUBLE) / CAST(d AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS prior_micro,
         |    CAST(floor(ln(1.0 / CAST(n_l + 1024 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS default_micro
         |  FROM dl CROSS JOIN dt JOIN nl USING (label)),
         |m AS (SELECT c.label, c.bucket,
         |    CAST(floor(ln(CAST(cnt + 1 AS DOUBLE) / CAST(n_l + 1024 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
         |      - default_micro AS delta_micro
         |  FROM c JOIN nl USING (label) JOIN ls USING (label)),
         |teb AS (
         |  SELECT doc_id, lang, ${hSql("'nb:' || tok")} % 1024 AS bucket FROM (
         |    SELECT doc_id, lang, unnest(${wordsSql("lower(text)")}) AS tok FROM te) u
         |  WHERE length(tok) >= 2),
         |dc AS (SELECT doc_id, lang, bucket, count(*) AS n FROM teb GROUP BY doc_id, lang, bucket),
         |ntok AS (SELECT doc_id, lang, CAST(sum(n) AS BIGINT) AS n_tokens FROM dc GROUP BY doc_id, lang),
         |mt AS (SELECT doc_id, label, CAST(sum(n * delta_micro) AS BIGINT) AS m_sum
         |  FROM dc JOIN m USING (bucket) GROUP BY doc_id, label),
         |sc AS (SELECT doc_id, ntok.lang, ls.label,
         |    prior_micro + n_tokens * default_micro + coalesce(m_sum, 0) AS score_micro
         |  FROM ntok CROSS JOIN ls LEFT JOIN mt USING (doc_id, label)),
         |pred AS (SELECT doc_id, lang, label AS pred_lang FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, label) AS rn
         |    FROM sc) WHERE rn = 1)
         |SELECT doc_id, lang, pred_lang, (lang = pred_lang) AS hit
         |FROM pred ORDER BY doc_id""".stripMargin,

    // Batch-perceptron replay — TRAINING unrolled (3 integer-exact
    // passes: all-zero start makes pass 1 the class-difference count
    // vector; passes 2-3 score, take y·s ≤ 0 as mistakes, add Σ y·n),
    // then final scoring with w3/b3. Identical to Classify
    // .perceptronTrain/perceptronScore because no float ever enters.
    "q_perceptron" ->
      s"""WITH $pcptCtes,
         |fs AS (SELECT c.doc_id, c.y,
         |    CAST(sum(c.n * coalesce(w3.w, 0)) AS BIGINT) + (SELECT b FROM b3) AS score
         |  FROM pc0 c LEFT JOIN w3 USING (bucket) GROUP BY c.doc_id, c.y)
         |SELECT doc_id, y, score,
         |  CAST(CASE WHEN score > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
         |  (CAST(CASE WHEN score > 0 THEN 1 ELSE -1 END AS BIGINT) = y) AS hit
         |FROM fs ORDER BY doc_id""".stripMargin,

    // Reliability table over the same perceptron training replay:
    // equal-width bins via non-negative integer division (floor ==
    // truncate, identical on both engines), one rounded division for
    // the rate.
    "q_calibration" ->
      s"""WITH $pcptCtes,
         |fs AS (SELECT c.doc_id, c.y,
         |    CAST(sum(c.n * coalesce(w3.w, 0)) AS BIGINT) + (SELECT b FROM b3) AS score
         |  FROM pc0 c LEFT JOIN w3 USING (bucket) GROUP BY c.doc_id, c.y),
         |mm AS (SELECT min(score) AS mn, max(score) AS mx FROM fs)
         |SELECT CAST((score - mn) * 10 // (mx - mn + 1) AS BIGINT) AS bucket,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  round(CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS pos_rate,
         |  min(score) AS score_lo, max(score) AS score_hi
         |FROM fs CROSS JOIN mm
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Compaction plan replay: hourly file sizes per type, capacity
    // ceil(total/8), bin = floor(running-before / cap) — non-negative
    // integer division throughout.
    "q_compaction" ->
      """WITH f AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour,
        |    count(*) AS fsize
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, (CAST(sum(fsize) AS BIGINT) + 7) // 8 AS cap
        |  FROM f GROUP BY 1),
        |r AS (SELECT f.event_type, f.hour, f.fsize, c.cap,
        |    coalesce(CAST(sum(fsize) OVER (PARTITION BY f.event_type ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
        |  FROM f JOIN c USING (event_type))
        |SELECT event_type, cum_before // cap AS bin, count(*) AS n_files,
        |  CAST(sum(fsize) AS BIGINT) AS bytes,
        |  min(hour) AS hour_lo, max(hour) AS hour_hi
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Averaged perceptron (Collins 2002): decision model = w1+w2+w3 /
    // b1+b2+b3 — the iters-scaled average (integer scale preserves all
    // signs, margins and ties), replayed over the same training CTEs.
    "q_perceptron_avg" ->
      s"""WITH $pcptCtes,
         |wS AS (SELECT bucket, CAST(sum(w) AS BIGINT) AS w FROM (
         |    SELECT * FROM w1 UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3) u
         |  GROUP BY bucket),
         |bS AS (SELECT (SELECT b FROM b1) + (SELECT b FROM b2) + (SELECT b FROM b3) AS b),
         |fs AS (SELECT c.doc_id, c.y,
         |    CAST(sum(c.n * coalesce(wS.w, 0)) AS BIGINT) + (SELECT b FROM bS) AS score
         |  FROM pc0 c LEFT JOIN wS USING (bucket) GROUP BY c.doc_id, c.y)
         |SELECT doc_id, y, score,
         |  CAST(CASE WHEN score > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
         |  (CAST(CASE WHEN score > 0 THEN 1 ELSE -1 END AS BIGINT) = y) AS hit
         |FROM fs ORDER BY doc_id""".stripMargin,

    // Per-source adaptive quality floor: micro6'd quality scores, exact
    // 2·median per stratum (quantile_cont of integers ×2 is an exact
    // BIGINT — the q_mad discipline), integer keep rule.
    "q_quality_floor" ->
      s"""WITH qd AS (SELECT doc_id, source,
         |    CAST(floor(round(least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.5
         |      + (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / length(text)) * 0.3
         |      + CAST(len(list_distinct(w)) AS DOUBLE) / len(w) * 0.2, 6) * 1000000.0 + 0.5)
         |      AS BIGINT) AS q_micro
         |  FROM (SELECT doc_id, source, text, ${wordsSql("text")} AS w FROM documents)),
         |qm AS (SELECT source, CAST(2 * quantile_cont(q_micro, 0.5) AS BIGINT) AS m2
         |       FROM qd GROUP BY source)
         |SELECT qd.source, count(*) AS n_docs, min(m2) AS median2_micro,
         |  CAST(sum(CASE WHEN 2 * q_micro >= m2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM qd JOIN qm ON qd.source = qm.source
         |GROUP BY qd.source ORDER BY qd.source""".stripMargin,

    // Exact all-pairs replay (AllPairs/PPJoin prefix filter, t = 1/2):
    // df-ordered shingle ranks (ties by hash), prefix length
    // n - ceil(n/2) + 1 with the ceil as exact integer division,
    // length filter max <= 2*min, exact-integer verify 2*inter >= uni.
    "q_allpairs" ->
      s"""WITH apbase AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 300
         |  UNION ALL
         |  SELECT doc_id + 10000, replace(text, 'data', 'info')
         |  FROM documents WHERE doc_id < 300 AND doc_id % 5 = 0),
         |apsh AS (SELECT * FROM (
         |    SELECT doc_id, $hashedShinglesSql AS shingles
         |    FROM (SELECT doc_id, ${wordsSql("lower(text)")} AS w FROM apbase))
         |  WHERE len(shingles) > 0),
         |aptk AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS h FROM apsh),
         |apdf AS (SELECT h, count(*) AS df FROM aptk GROUP BY h),
         |appfx AS (SELECT h, doc_id, n FROM (
         |    SELECT aptk.h, doc_id, n,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY df, aptk.h) AS rk
         |    FROM aptk JOIN apdf USING (h))
         |  WHERE rk <= n - ((1 * n + 1) // 2) + 1),
         |apcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM appfx a JOIN appfx b ON a.h = b.h AND a.doc_id < b.doc_id
         |  WHERE 1 * greatest(a.n, b.n) <= 2 * least(a.n, b.n)),
         |apv AS (SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS inter,
         |    CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS BIGINT) AS uni
         |  FROM apcand JOIN apsh sa ON apcand.doc_a = sa.doc_id
         |              JOIN apsh sb ON apcand.doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
         |FROM apv WHERE 2 * inter >= 1 * uni
         |ORDER BY doc_a, doc_b""".stripMargin,

    // One-vs-rest perceptron replay: five binary trainings (2 unrolled
    // integer passes each, Collins-averaged) over one shared count
    // table, then argmax (score DESC, label ASC) per doc.
    "q_perceptron_ovr" -> {
      val labels = Seq("de", "en", "es", "fr", "zh")
      val scores = labels.map(l =>
        s"SELECT doc_id, '$l' AS label, score FROM p${l}_fs").mkString("\n  UNION ALL ")
      s"""WITH ${povrCtes(labels)},
         |povrall AS (
         |  $scores),
         |povrpred AS (SELECT doc_id, label AS pred_lang FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, label) AS rn FROM povrall) WHERE rn = 1)
         |SELECT d.doc_id, d.lang, p.pred_lang, (d.lang = p.pred_lang) AS hit
         |FROM povrd d JOIN povrpred p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    // PMI collocations replay: adjacent pairs from the per-doc lead()
    // window, slot-based unigram counts (each token counted once per
    // pair slot, N = 2·|pairs| — the self-consistent normalization the
    // operator documents), exact-integer ratio in HUGEINT (Spark:
    // decimal(38,0)), truncating division, support floor 5, top-40.
    "q_collocations" ->
      s"""WITH ptoks AS (SELECT doc_id, pos, ws[pos+1] AS tok, len(ws) AS ng FROM (
         |    SELECT doc_id, ${wordsSql("lower(text)")} AS ws FROM documents) s,
         |    LATERAL (SELECT unnest(range(len(ws))) AS pos) p),
         |pl AS (SELECT doc_id, pos, tok,
         |    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2, ng
         |  FROM ptoks),
         |pp AS (SELECT tok AS w1, w2 FROM pl WHERE pos <= ng - 2),
         |puni AS (SELECT w, count(*) AS cw FROM (
         |    SELECT w1 AS w FROM pp UNION ALL SELECT w2 AS w FROM pp) u GROUP BY w),
         |pbig AS (SELECT w1, w2, count(*) AS n_pair FROM pp
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |ptot AS (SELECT 2 * count(*) AS n_total FROM pp)
         |SELECT w1, w2, n_pair,
         |  CAST((CAST(n_pair AS HUGEINT) * n_total * 1000000) //
         |       (CAST(c1.cw AS HUGEINT) * c2.cw) AS BIGINT) AS pmi_micro
         |FROM pbig
         |JOIN puni c1 ON pbig.w1 = c1.w
         |JOIN puni c2 ON pbig.w2 = c2.w
         |CROSS JOIN ptot
         |ORDER BY pmi_micro DESC, w1, w2 LIMIT 40""".stripMargin,

    // Stupid-Backoff LM replay via the shared lmCtes chain (train = en
    // slice, score = all documents); lang carried back by a doc_id
    // join. Docs with < 2 tokens have no bigram positions and are
    // structurally absent (the q_repetition convention).
    "q_lm_score" ->
      s"""WITH entr AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
         |${lmCtes("lm", "entr", "documents", graft.ops.LanguageModel.KeepPerBigramMicro)}
         |SELECT s.doc_id, d.lang, s.n_bigrams, s.score_micro, s.keep
         |FROM lmscores s JOIN documents d USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin,

    // Curation + LM perplexity stage: the q_curation gate/exact/LSH
    // chain over documents + hex-gibberish plants (md5-chunk words,
    // stopword-laced so only the LM stage can catch them), then the LM
    // replay (reference = raw en slice) and the keep filter. Docs with
    // < 2 tokens are absent from lm scores -> kept (left join, keep
    // defaults TRUE).
    "q_curation_lm" -> {
      val chunksSql = (m: String) =>
        (0 until 8).map(j => s"substr($m, ${1 + 4 * j}, 4)").mkString(" || ' ' || ")
      val mid = "CAST(doc_id AS VARCHAR)"
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 90000,
         |    'the ' || ${chunksSql(s"md5($mid)")} || ' and ' ||
         |    ${chunksSql(s"md5($mid || 'x')")} || ' of ' ||
         |    ${chunksSql(s"md5($mid || 'y')")} || ' to a'
         |  FROM documents WHERE doc_id % 17 = 0),
         |$curationCtes,
         |kept AS (SELECT doc_id, text, quality FROM ek
         |         WHERE doc_id NOT IN (SELECT doc_id FROM neardrop)),
         |entr AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
         |${lmCtes("cl", "entr", "kept", graft.ops.Curation.LmPerBigramMicro)},
         |kept2 AS (SELECT k.doc_id, k.quality FROM kept k
         |          LEFT JOIN clscores sc USING (doc_id)
         |          WHERE coalesce(sc.keep, TRUE)),
         |${curationSplitSql("kept2")}""".stripMargin
    },

    // BPE replay: word-type dict, char symbols + </w>, then 8 unrolled
    // merge iterations (pair count → lexicographic argmax → run-parity
    // apply) — the same all-relational recipe Bpe.train runs.
    "q_bpe_merges" -> {
      val ranks = (1 to 8).map(i =>
        s"SELECT $i AS merge_rank, l AS lhs, r AS rhs, c AS pair_count FROM bbest$i")
        .mkString("\n  UNION ALL ")
      s"""WITH $bpeChainCtes
         |SELECT * FROM (
         |  $ranks)
         |ORDER BY merge_rank""".stripMargin
    },

    // BPE encode replay: same 8 unrolled merge iterations to bseq8,
    // per-TYPE subword counts, then a word-keyed join of the corpus'
    // word occurrences — per-doc totals as exact integers.
    "q_bpe_encode" ->
      s"""WITH $bpeChainCtes,
         |enc AS (SELECT word, CAST(count(*) AS BIGINT) AS n_subwords FROM bseq8 GROUP BY word),
         |dw AS (SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(${wordsSql("lower(text)")}) AS word FROM documents) u
         |  WHERE length(word) >= 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_subwords) AS BIGINT) AS n_subwords
         |FROM dw JOIN enc USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Mann-Whitney replay: shared value-support walk (2×-midranks over
    // distinct values), per-type rank sums, 2U = Σmr2 − n(n+1), AUC at
    // 1e-6 by the same truncating division.
    "q_mannwhitney" ->
      """WITH pv AS (SELECT value AS v, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |sup AS (SELECT v, sum(c) AS ct FROM pv GROUP BY v),
        |wk AS (SELECT v, ct,
        |    coalesce(sum(ct) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt
        |  FROM sup),
        |per AS (
        |  SELECT event_type, sum(c) AS n,
        |    sum(CAST(c * (2 * lt + ct + 1) AS HUGEINT)) AS r2
        |  FROM pv JOIN wk USING (v) GROUP BY event_type),
        |t AS (SELECT sum(n) AS total FROM per)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(r2 - CAST(n * (n + 1) AS HUGEINT) AS BIGINT) AS u2,
        |  CAST((r2 - CAST(n * (n + 1) AS HUGEINT)) * 1000000
        |    // (2 * n * (total - n)) AS BIGINT) AS auc_e6
        |FROM per CROSS JOIN t ORDER BY event_type""".stripMargin,

    // Spearman/Pearson replay: per-user (count, cents) pairs, one
    // 2×-midrank walk per variable, sufficient statistics in HUGEINT,
    // the correctly-rounded sqrt·sqrt floor, integral division.
    "q_spearman" ->
      """WITH u AS (
        |  SELECT user_id, count(*) AS x,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |rxs AS (SELECT x AS v, count(*) AS ct FROM u GROUP BY x),
        |rxw AS (SELECT v, 2 * coalesce(sum(ct) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + ct + 1 AS rx2
        |  FROM rxs),
        |rys AS (SELECT y AS v, count(*) AS ct FROM u GROUP BY y),
        |ryw AS (SELECT v, 2 * coalesce(sum(ct) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + ct + 1 AS ry2
        |  FROM rys),
        |r AS (SELECT u.x, u.y, rxw.rx2, ryw.ry2
        |  FROM u JOIN rxw ON u.x = rxw.v JOIN ryw ON u.y = ryw.v),
        |s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS s_x, sum(CAST(y AS HUGEINT)) AS s_y,
        |    sum(CAST(x AS HUGEINT) * y) AS s_xy,
        |    sum(CAST(x AS HUGEINT) * x) AS s_xx,
        |    sum(CAST(y AS HUGEINT) * y) AS s_yy,
        |    sum(CAST(rx2 AS HUGEINT)) AS s_a, sum(CAST(ry2 AS HUGEINT)) AS s_b,
        |    sum(CAST(rx2 AS HUGEINT) * ry2) AS s_ab,
        |    sum(CAST(rx2 AS HUGEINT) * rx2) AS s_aa,
        |    sum(CAST(ry2 AS HUGEINT) * ry2) AS s_bb
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n_users,
        |  CAST((n * s_xy - s_x * s_y) * 1000000
        |    // CAST(floor(sqrt(CAST(n * s_xx - s_x * s_x AS DOUBLE))
        |               * sqrt(CAST(n * s_yy - s_y * s_y AS DOUBLE))) AS HUGEINT)
        |    AS BIGINT) AS pearson_e6,
        |  CAST((n * s_ab - s_a * s_b) * 1000000
        |    // CAST(floor(sqrt(CAST(n * s_aa - s_a * s_a AS DOUBLE))
        |               * sqrt(CAST(n * s_bb - s_b * s_b AS DOUBLE))) AS HUGEINT)
        |    AS BIGINT) AS spearman_e6
        |FROM s""".stripMargin,

    // ACF replay: daily counts, 7-row lag spine, self-join on d+lag,
    // fraction-free numerator, chained truncating divisions in the
    // same order as the Spark plan.
    "q_acf" ->
      """WITH daily AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    count(*) AS x
        |  FROM events GROUP BY 1),
        |g AS (SELECT count(*) AS n, sum(x) AS s,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx FROM daily),
        |spine AS (SELECT unnest(range(1, 8)) AS lag)
        |SELECT lag, CAST(n AS BIGINT) AS n_days,
        |  CAST(sum(CAST(n * a.x - s AS HUGEINT) * (n * b.x - s)) * 1000000
        |    // CAST(n AS HUGEINT) // (n * sxx - CAST(s AS HUGEINT) * s)
        |    AS BIGINT) AS acf_e6
        |FROM daily a CROSS JOIN spine JOIN daily b ON b.d = a.d + lag
        |CROSS JOIN g
        |GROUP BY lag, n, s, sxx ORDER BY lag""".stripMargin,

    // CUSUM replay: day support walk of n-scaled deviations, broadcast
    // peak, per-day changepoint flag.
    "q_cusum" ->
      """WITH daily AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    count(*) AS x
        |  FROM events GROUP BY 1),
        |g AS (SELECT count(*) AS n, sum(x) AS s FROM daily),
        |c AS (SELECT d, x,
        |    sum(n * x - s) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_n
        |  FROM daily CROSS JOIN g),
        |p AS (SELECT max(abs(cusum_n)) AS peak_abs FROM c)
        |SELECT d, x, CAST(cusum_n AS BIGINT) AS cusum_n,
        |  abs(cusum_n) = peak_abs AS is_changepoint
        |FROM c CROSS JOIN p ORDER BY d""".stripMargin,

    // Chi-square independence replay: observed cells, margins, full
    // margin-cross scaffold for zero cells, fraction-free per-cell
    // statistic with the same chained truncating divisions.
    "q_chi2_indep" ->
      """WITH o AS (SELECT lang, source, count(*) AS o
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, sum(o) AS r FROM o GROUP BY lang),
        |cm AS (SELECT source, sum(o) AS c FROM o GROUP BY source),
        |t AS (SELECT sum(o) AS nn FROM o)
        |SELECT r.lang, cm.source, CAST(coalesce(o.o, 0) AS BIGINT) AS o,
        |  CAST(CAST(r.r * cm.c AS HUGEINT) * 1000000 // nn AS BIGINT)
        |    AS expected_e6,
        |  CAST(CAST(nn * coalesce(o.o, 0) - r.r * cm.c AS HUGEINT)
        |    * (nn * coalesce(o.o, 0) - r.r * cm.c) * 1000000
        |    // CAST(nn AS HUGEINT) // (r.r * cm.c) AS BIGINT) AS cell_chi2_e6
        |FROM r CROSS JOIN cm CROSS JOIN t
        |LEFT JOIN o ON o.lang = r.lang AND o.source = cm.source
        |ORDER BY r.lang, cm.source""".stripMargin,

    // BLEU replay: same plant (data→info), 1..4-gram multisets via
    // list_slice (inclusive-end in DuckDB), clipped-match inner join,
    // truncating precision at 1e-6.
    "q_bleu" ->
      s"""WITH d AS (SELECT doc_id AS pid, text FROM documents
         |  WHERE doc_id < 300 AND doc_id % 5 = 0),
         |c AS (SELECT pid, replace(text, 'data', 'info') AS text FROM d),
         |nsp AS (SELECT unnest(range(1, 5)) AS n),
         |cg0 AS (SELECT pid, n, ws, unnest(range(0, len(ws) - n + 1)) AS i
         |  FROM (SELECT pid, ${wordsSql("lower(text)")} AS ws FROM c)
         |    CROSS JOIN nsp WHERE len(ws) >= n),
         |cg AS (SELECT pid, n,
         |    array_to_string(list_slice(ws, i + 1, i + n), ' ') AS gram
         |  FROM cg0),
         |rg0 AS (SELECT pid, n, ws, unnest(range(0, len(ws) - n + 1)) AS i
         |  FROM (SELECT pid, ${wordsSql("lower(text)")} AS ws FROM d)
         |    CROSS JOIN nsp WHERE len(ws) >= n),
         |rg AS (SELECT pid, n,
         |    array_to_string(list_slice(ws, i + 1, i + n), ' ') AS gram
         |  FROM rg0),
         |cc AS (SELECT pid, n, gram, count(*) AS c FROM cg GROUP BY 1, 2, 3),
         |rc AS (SELECT pid, n, gram, count(*) AS cr FROM rg GROUP BY 1, 2, 3),
         |tt AS (SELECT pid, n, sum(c) AS total FROM cc GROUP BY 1, 2),
         |mm AS (SELECT cc.pid, cc.n, sum(least(c, cr)) AS m
         |  FROM cc JOIN rc ON cc.pid = rc.pid AND cc.n = rc.n AND cc.gram = rc.gram
         |  GROUP BY 1, 2)
         |SELECT tt.pid AS doc_id, CAST(tt.n AS INT) AS n,
         |  CAST(total AS BIGINT) AS total,
         |  CAST(coalesce(m, 0) AS BIGINT) AS matches,
         |  CAST(coalesce(m, 0) * 1000000 // total AS BIGINT) AS prec_e6
         |FROM tt LEFT JOIN mm ON tt.pid = mm.pid AND tt.n = mm.n
         |ORDER BY doc_id, n""".stripMargin,

    // Item-CF replay: distinct basket sets, ordered pair counts ≥ 3,
    // symmetrize, cosine at 1e-6 with the sqrt·sqrt floor, top-3 per
    // item by (cos desc, neighbor).
    "q_item_cf" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |cnt AS (SELECT pk, count(*) AS ci FROM li GROUP BY pk),
        |co AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_co
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |sym AS (SELECT pa, pb, n_co FROM co
        |  UNION ALL SELECT pb, pa, n_co FROM co),
        |sc AS (SELECT sym.pa AS item, sym.pb AS neighbor, n_co,
        |    CAST(CAST(n_co AS HUGEINT) * 1000000
        |      // CAST(floor(sqrt(CAST(x.ci AS DOUBLE))
        |                 * sqrt(CAST(y.ci AS DOUBLE))) AS HUGEINT)
        |      AS BIGINT) AS cos_e6
        |  FROM sym JOIN cnt x ON sym.pa = x.pk JOIN cnt y ON sym.pb = y.pk),
        |rk AS (SELECT item, neighbor, n_co, cos_e6,
        |    row_number() OVER (PARTITION BY item
        |      ORDER BY cos_e6 DESC, neighbor) AS rnk
        |  FROM sc)
        |SELECT item, neighbor, n_co, cos_e6, CAST(rnk AS INT) AS rnk
        |FROM rk WHERE rnk <= 3 ORDER BY item, rnk""".stripMargin,

    // Burstiness replay: per-doc term counts, top-30 terms by
    // (frequency desc, term), Fano factor cleared of fractions with
    // the same chained truncating divisions.
    "q_burstiness" ->
      s"""WITH tc AS (SELECT doc_id, tok, count(*) AS c FROM (
         |    SELECT doc_id, unnest(${wordsSql("lower(text)")}) AS tok
         |    FROM documents) u GROUP BY 1, 2),
         |st AS (SELECT tok, count(*) AS n_docs, sum(c) AS s,
         |    sum(CAST(c AS HUGEINT) * c) AS q FROM tc GROUP BY tok),
         |top AS (SELECT *, row_number() OVER (ORDER BY s DESC, tok) AS rnk
         |  FROM st),
         |nn AS (SELECT count(*) AS nn FROM documents)
         |SELECT tok, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(s AS BIGINT) AS total,
         |  CAST((nn * q - CAST(s AS HUGEINT) * s) * 1000000
         |    // CAST(nn - 1 AS HUGEINT) // s AS BIGINT) AS vmr_e6
         |FROM top CROSS JOIN nn WHERE rnk <= 30 ORDER BY tok""".stripMargin,

    // Isotonic replay: bucketed purchase rates, interval rates at
    // 1e-9 (truncating), the max-min PAVA identity over the bounded
    // bucket support.
    "q_isotonic" ->
      """WITH bk AS (
        |  SELECT CAST(floor(value / 5) AS BIGINT) AS b, count(*) AS n,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
        |  FROM events GROUP BY 1),
        |spans AS (
        |  SELECT i.b AS bi, j.b AS bj,
        |    CAST(CAST(sum(bk.k) AS HUGEINT) * 1000000000 // sum(bk.n)
        |      AS BIGINT) AS r_e9
        |  FROM bk i JOIN bk j ON i.b <= j.b
        |  JOIN bk ON bk.b BETWEEN i.b AND j.b
        |  GROUP BY i.b, j.b),
        |mins AS (
        |  SELECT kk.b AS kk, spans.bi, min(r_e9) AS m
        |  FROM spans JOIN bk kk ON spans.bi <= kk.b AND kk.b <= spans.bj
        |  GROUP BY kk.b, spans.bi),
        |fit AS (SELECT kk, max(m) AS fitted_e9 FROM mins GROUP BY kk)
        |SELECT bk.b AS bucket, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |  CAST(CAST(k AS HUGEINT) * 1000000000 // n AS BIGINT) AS raw_e9,
        |  fitted_e9
        |FROM bk JOIN fit ON bk.b = fit.kk ORDER BY bucket""".stripMargin,

    // 4-truss replay: 9 unrolled materialized peel rounds (fixpoint ≤6
    // measured on this data; extra rounds are no-ops), each = one
    // wedge-join support pass + a symmetrized keep join, then the
    // final support table of the surviving edges. The Spark side
    // iterates to a data-dependent fixpoint (maxRounds=30), so the
    // unroll depth is an oracle assumption — the fixguard CTE makes it
    // an EXPLICIT one: if round 9 still shrank the edge set (count r9
    // <> count r8, i.e. not yet a fixpoint), the support expression
    // calls DuckDB error() with a named message instead of silently
    // hashing a non-fixpoint edge set (error() is lazily evaluated
    // inside CASE; // by zero would only yield NULLs).
    "q_ktruss" -> {
      def round(i: Int): String =
        s"""kt_s$i AS MATERIALIZED (
           |  SELECT o.src AS a, o.dst AS b, count(*) AS s
           |  FROM (SELECT src, dst FROM kt_r${i - 1} WHERE src < dst) o
           |  JOIN kt_r${i - 1} n1 ON n1.src = o.src
           |  JOIN kt_r${i - 1} n2 ON n2.src = o.dst AND n2.dst = n1.dst
           |  GROUP BY o.src, o.dst),
           |kt_r$i AS MATERIALIZED (
           |  SELECT r.src, r.dst FROM kt_r${i - 1} r
           |  JOIN (SELECT a, b FROM kt_s$i WHERE s >= 2
           |        UNION ALL SELECT b, a FROM kt_s$i WHERE s >= 2) kp
           |    ON r.src = kp.a AND r.dst = kp.b)""".stripMargin
      val rounds = (1 to 9).map(round).mkString(",\n")
      s"""WITH p AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |kt_r0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM p WHERE dst IS NOT NULL AND src <> dst
         |    UNION ALL
         |    SELECT dst, src FROM p WHERE dst IS NOT NULL AND src <> dst) u),
         |$rounds,
         |fixguard AS (
         |  SELECT CASE WHEN (SELECT count(*) FROM kt_r9) =
         |                   (SELECT count(*) FROM kt_r8)
         |         THEN 1 ELSE 0 END AS at_fixpoint),
         |fin AS (
         |  SELECT o.src AS a, o.dst AS b, count(*) AS s
         |  FROM (SELECT src, dst FROM kt_r9 WHERE src < dst) o
         |  JOIN kt_r9 n1 ON n1.src = o.src
         |  JOIN kt_r9 n2 ON n2.src = o.dst AND n2.dst = n1.dst
         |  GROUP BY o.src, o.dst)
         |SELECT a AS src, b AS dst,
         |  CAST(CASE WHEN at_fixpoint = 1 THEN s ELSE error(
         |    'q_ktruss oracle: kt_r9 <> kt_r8, unroll depth insufficient - add rounds')
         |  END AS BIGINT) AS support
         |FROM fin CROSS JOIN fixguard WHERE s >= 2 ORDER BY src, dst""".stripMargin
    },

    // Life-table replay: per-user first/last day, censor in the final
    // 3 days, duration support, descending at-risk cumulative, hazard
    // at 1e-6.
    "q_life_table" ->
      s"""WITH $survivalUsersCtes,
        |byt AS (
        |  SELECT l - f AS t,
        |    sum(CASE WHEN l >= maxd - 2 THEN 0 ELSE 1 END) AS d_churn,
        |    sum(CASE WHEN l >= maxd - 2 THEN 1 ELSE 0 END) AS c_cens
        |  FROM u CROSS JOIN md GROUP BY 1),
        |c AS (SELECT t, d_churn, c_cens,
        |    sum(d_churn + c_cens) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
        |  FROM byt)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d_churn AS BIGINT) AS d_churn, CAST(c_cens AS BIGINT) AS c_cens,
        |  CAST(d_churn * 1000000 // n_risk AS BIGINT) AS hazard_e6
        |FROM c ORDER BY t""".stripMargin,

    // Bootstrap replay: same arithmetic-hash Poisson-ish weights
    // (368/736/920 per-mille thresholds), 32 replicates, exact cents.
    "q_bootstrap" ->
      """WITH r AS (
        |  SELECT event_id, CAST(round(value * 100, 0) AS BIGINT) AS vc,
        |    unnest(range(1, 33)) AS b
        |  FROM events),
        |h AS (SELECT b, vc,
        |    (event_id * 1000003 + b * 7919 + b) % 1000 AS h FROM r),
        |w AS (SELECT b, vc,
        |    CASE WHEN h < 368 THEN 0 WHEN h < 736 THEN 1
        |         WHEN h < 920 THEN 2 ELSE 3 END AS w FROM h)
        |SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
        |  CAST(sum(w * vc) AS BIGINT) AS sum_cents,
        |  CAST(sum(CAST(w * vc AS HUGEINT)) * 1000000 // sum(w) AS BIGINT)
        |    AS mean_c_e6
        |FROM w GROUP BY b ORDER BY b""".stripMargin,

    // A/B replay: same arithmetic-hash variant split, per-user
    // conversion, the rational z² with identical chained truncating
    // divisions.
    "q_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase'
        |             AND CAST(round(value * 100, 0) AS BIGINT) >= 20000
        |        THEN 1 ELSE 0 END) AS conv,
        |    (user_id * 1000003 + 12345) % 97 % 2 AS v
        |  FROM events GROUP BY user_id),
        |s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN v = 0 THEN conv ELSE 0 END) AS BIGINT) AS k_a,
        |    CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN v = 1 THEN conv ELSE 0 END) AS BIGINT) AS k_b
        |  FROM u)
        |SELECT n_a, k_a, CAST(k_a * 1000000 // n_a AS BIGINT) AS rate_a_e6,
        |  n_b, k_b, CAST(k_b * 1000000 // n_b AS BIGINT) AS rate_b_e6,
        |  CAST((k_b * n_a - k_a * n_b) * 1000000 // nullif(k_a * n_b, 0)
        |    AS BIGINT) AS lift_e6,
        |  CAST(CAST(k_a * n_b - k_b * n_a AS HUGEINT)
        |    * (k_a * n_b - k_b * n_a) * (n_a + n_b) * 1000000
        |    // CAST(n_a AS HUGEINT) // n_b
        |    // nullif(k_a + k_b, 0)
        |    // nullif(n_a + n_b - k_a - k_b, 0) AS BIGINT) AS z2_e6
        |FROM s""".stripMargin,

    // EWMA replay: identical fixed-point recurrence
    // s_t = s_{t-1} + (1e6 x_t - s_{t-1}) // 8 via a recursive CTE
    // over row-numbered days (each level references its predecessor
    // once — the kcore inlining lesson).
    "q_ewma" ->
      """WITH RECURSIVE daily AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |d2 AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM daily),
        |r AS (
        |  SELECT rn, d, x, x * 1000000 AS s FROM d2 WHERE rn = 1
        |  UNION ALL
        |  SELECT d2.rn, d2.d, d2.x, r.s + (d2.x * 1000000 - r.s) // 8
        |  FROM r JOIN d2 ON d2.rn = r.rn + 1)
        |SELECT d, x, CAST(s AS BIGINT) AS ewma_e6,
        |  CAST(x * 1000000 - s AS BIGINT) AS resid_e6
        |FROM r ORDER BY d""".stripMargin,

    // Data-quality replay: same three bounded passes — row-level
    // conditional aggregate, distinct key count, orphan anti count.
    "q_dq_checks" ->
      """WITH row_m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS BIGINT) AS c_qty,
        |    CAST(sum(CASE WHEN CAST(round(l_discount * 100, 0) AS BIGINT) BETWEEN 0 AND 10 THEN 1 ELSE 0 END) AS BIGINT) AS c_disc,
        |    CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') AND l_linestatus IN ('F','O') THEN 1 ELSE 0 END) AS BIGINT) AS c_flag,
        |    CAST(sum(CASE WHEN l_tax IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_tax
        |  FROM lineitem),
        |uq AS (SELECT CAST(count(*) AS BIGINT) AS u FROM (
        |    SELECT DISTINCT l_orderkey, l_linenumber, l_partkey FROM lineitem) z),
        |orph AS (SELECT CAST(count(*) AS BIGINT) AS orph FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |s AS (SELECT * FROM row_m, uq, orph)
        |SELECT * FROM (
        |  SELECT 'quantity_in_1_50' AS chk, c_qty * 1000000 // n AS metric_e6, c_qty = n AS pass FROM s
        |  UNION ALL SELECT 'discount_in_0_10pct', c_disc * 1000000 // n, c_disc = n FROM s
        |  UNION ALL SELECT 'flag_status_domain', c_flag * 1000000 // n, c_flag = n FROM s
        |  UNION ALL SELECT 'tax_complete', c_tax * 1000000 // n, c_tax = n FROM s
        |  UNION ALL SELECT 'key_unique', u * 1000000 // n, u = n FROM s
        |  UNION ALL SELECT 'orderkey_resolves', (n - orph) * 1000000 // n, orph = 0 FROM s) z
        |ORDER BY chk""".stripMargin,

    // CMS replay: same 4x1024 portable-hash sketch, same top-20 exact
    // candidates, estimate = min over rows.
    "q_cms_topk" -> {
      val termH = hSql("'cms' || r || ':' || term")
      s"""WITH toks AS (
         |  SELECT unnest(${wordsSql("lower(text)")}) AS term FROM documents),
         |t2 AS (SELECT term FROM toks WHERE len(term) > 0),
         |rs AS (SELECT unnest(range(0, 4)) AS r),
         |cells AS (
         |  SELECT r, $termH % 1024 AS c, count(*) AS cnt
         |  FROM t2, rs GROUP BY 1, 2),
         |top AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS exact FROM t2
         |  GROUP BY term ORDER BY exact DESC, term LIMIT 20),
         |probe AS (
         |  SELECT term, exact, r, $termH % 1024 AS c FROM top, rs)
         |SELECT p.term, p.exact,
         |  CAST(min(cl.cnt) AS BIGINT) AS cms_est,
         |  min(cl.cnt) >= p.exact AS never_under
         |FROM probe p JOIN cells cl ON cl.r = p.r AND cl.c = p.c
         |GROUP BY p.term, p.exact
         |ORDER BY p.exact DESC, p.term""".stripMargin
    },

    // Modularity replay: same undirected dedup'd part-adjacency edges,
    // p_brand communities, fraction-free contribution.
    "q_modularity" ->
      """WITH p AS (SELECT l_partkey AS src,
        |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM p WHERE dst IS NOT NULL AND src <> dst),
        |e AS (SELECT e0.a, e0.b, pa.p_brand AS ba, pb.p_brand AS bb
        |  FROM e0 JOIN part pa ON pa.p_partkey = e0.a
        |          JOIN part pb ON pb.p_partkey = e0.b),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |ec AS (SELECT ba AS brand, CAST(count(*) AS BIGINT) AS e_c
        |  FROM e WHERE ba = bb GROUP BY 1),
        |dc AS (SELECT brand, CAST(count(*) AS BIGINT) AS d_c FROM (
        |    SELECT ba AS brand FROM e UNION ALL SELECT bb FROM e) z GROUP BY 1)
        |SELECT dc.brand, COALESCE(ec.e_c, 0) AS e_c, dc.d_c,
        |  CAST((4 * m.m * COALESCE(ec.e_c, 0)
        |        - CAST(dc.d_c AS HUGEINT) * dc.d_c) * 1000000
        |    // (4 * CAST(m.m AS HUGEINT) * m.m) AS BIGINT) AS contrib_e6
        |FROM dc LEFT JOIN ec ON ec.brand = dc.brand, m
        |ORDER BY dc.brand""".stripMargin,

    // Rich-club replay: same dedup'd undirected edges, degree pass,
    // min-endpoint-degree per edge, power-of-two threshold spine.
    "q_richclub" ->
      """WITH p AS (SELECT l_partkey AS src,
        |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
        |  FROM lineitem),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM p WHERE dst IS NOT NULL AND src <> dst),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b FROM und) z
        |  GROUP BY 1),
        |ks AS (SELECT CAST(unnest([2, 4, 8, 16]) AS BIGINT) AS k),
        |nk AS (SELECT k,
        |    CAST(sum(CASE WHEN deg > k THEN 1 ELSE 0 END) AS BIGINT) AS n_k
        |  FROM deg, ks GROUP BY k),
        |ek AS (SELECT k,
        |    CAST(sum(CASE WHEN least(da.deg, db.deg) > k THEN 1 ELSE 0 END) AS BIGINT) AS e_k
        |  FROM und
        |  JOIN deg da ON da.node = und.a
        |  JOIN deg db ON db.node = und.b, ks GROUP BY k)
        |SELECT nk.k, nk.n_k, ek.e_k,
        |  2 * ek.e_k * 1000000 // nullif(nk.n_k * (nk.n_k - 1), 0) AS phi_e6
        |FROM nk JOIN ek USING (k)
        |ORDER BY nk.k""".stripMargin,

    // Holt replay: identical fixed-point double-exponential recurrence
    // via a recursive CTE (each level references its predecessor once).
    "q_holt" ->
      """WITH RECURSIVE daily AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |d2 AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM daily),
        |r AS (
        |  SELECT rn, d, x, x * 1000000 AS l, CAST(0 AS BIGINT) AS b
        |  FROM d2 WHERE rn = 1
        |  UNION ALL
        |  SELECT d2.rn, d2.d, d2.x,
        |    r.l + r.b + (d2.x * 1000000 - r.l - r.b) // 8,
        |    r.b + ((d2.x * 1000000 - r.l - r.b) // 8) // 4
        |  FROM r JOIN d2 ON d2.rn = r.rn + 1)
        |SELECT d, x, CAST(l AS BIGINT) AS level_e6, CAST(b AS BIGINT) AS trend_e6,
        |  CAST(l + b AS BIGINT) AS forecast_next_e6
        |FROM r ORDER BY d""".stripMargin,

    // Holt-Winters replay: the q_holt recursive chain carrying a 7-slot
    // seasonal LIST, every component a truncated integer.
    "q_holt_winters" -> {
      val sk = "r.ss[CAST(d2.d % 7 AS INT) + 1]"
      val lNew = s"r.l + r.b + (d2.x * 1000000 - $sk - r.l - r.b) // 8"
      val bNew = s"r.b + (($lNew) - r.l - r.b) // 4"
      val skNew = s"$sk + (d2.x * 1000000 - ($lNew) - $sk) // 4"
      val ssNew = s"list_transform(range(7), j -> CASE WHEN j = d2.d % 7 " +
        s"THEN $skNew ELSE r.ss[CAST(j AS INT) + 1] END)"
      s"""WITH RECURSIVE daily AS (
         |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
         |    CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1),
         |d2 AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM daily),
         |r AS (
         |  SELECT rn, d, x, x * 1000000 AS l, CAST(0 AS BIGINT) AS b,
         |    list_transform(range(7), j -> CAST(0 AS BIGINT)) AS ss
         |  FROM d2 WHERE rn = 1
         |  UNION ALL
         |  SELECT d2.rn, d2.d, d2.x,
         |    $lNew,
         |    $bNew,
         |    $ssNew
         |  FROM r JOIN d2 ON d2.rn = r.rn + 1)
         |SELECT d, x, d % 7 AS season, CAST(l AS BIGINT) AS level_e6,
         |  CAST(b AS BIGINT) AS trend_e6,
         |  CAST(ss[CAST(d % 7 AS INT) + 1] AS BIGINT) AS seasonal_e6,
         |  CAST(l + b + ss[CAST((d + 1) % 7 AS INT) + 1] AS BIGINT)
         |    AS forecast_next_e6
         |FROM r ORDER BY d""".stripMargin
    },

    // AUC replay: the full perceptron training CTE chain, then the
    // Mann-Whitney midrank2 walk over the score support.
    "q_auc" ->
      s"""WITH $pcptCtes,
         |fs AS (SELECT c.doc_id, c.y,
         |    CAST(sum(c.n * coalesce(w3.w, 0)) AS BIGINT) + (SELECT b FROM b3) AS score
         |  FROM pc0 c LEFT JOIN w3 USING (bucket) GROUP BY c.doc_id, c.y),
         |sup AS (SELECT score AS s, CAST(count(*) AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos
         |  FROM fs GROUP BY score),
         |wk AS (SELECT s, ct, pos,
         |    coalesce(CAST(sum(ct) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |      AS below
         |  FROM sup),
         |agg AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
         |    CAST(sum(ct - pos) AS BIGINT) AS n_neg,
         |    CAST(sum(pos * (2 * below + ct + 1)) AS BIGINT) AS rank2_pos
         |  FROM wk)
         |SELECT n_pos, n_neg,
         |  (rank2_pos - n_pos * (n_pos + 1)) * 1000000
         |    // (2 * n_pos * n_neg) AS auc_e6
         |FROM agg""".stripMargin,

    // Kaplan-Meier replay: same duration support, the at-risk carry
    // and truncating survival product via a recursive CTE.
    "q_kaplan_meier" ->
      s"""WITH RECURSIVE $survivalTimesCtes,
        |r AS (
        |  SELECT rn, t, dd, cc, total AS n,
        |    1000000 * (total - dd) // total AS s
        |  FROM d2, tot WHERE rn = 1
        |  UNION ALL
        |  SELECT d2.rn, d2.t, d2.dd, d2.cc, r.n - r.dd - r.cc,
        |    r.s * (r.n - r.dd - r.cc - d2.dd) // (r.n - r.dd - r.cc)
        |  FROM r JOIN d2 ON d2.rn = r.rn + 1)
        |SELECT t, CAST(n AS BIGINT) AS n_risk, dd AS d_churn,
        |  CAST(s AS BIGINT) AS surv_e6
        |FROM r ORDER BY t""".stripMargin,

    // Mann-Kendall replay: same support pair join, integer sign sum,
    // 2x-scaled exact Sen median.
    "q_mann_kendall" ->
      """WITH daily AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |p AS (SELECT CAST(sign(b.x - a.x) AS BIGINT) AS sgn,
        |    (b.x - a.x) * 1000000 // (b.d - a.d) AS slope_e6
        |  FROM daily a JOIN daily b ON a.d < b.d)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(sgn) AS BIGINT) AS s_stat,
        |  CAST(2 * quantile_cont(slope_e6, 0.5) AS BIGINT) AS sen2_slope_e6
        |FROM p""".stripMargin,

    // Benford replay: decimal-string first digit, shared 1e-6
    // log10(1+1/d) constants, fraction-free chi2 cells.
    "q_benford" ->
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
        |  FROM lineitem),
        |obs AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(count(*) AS BIGINT) AS obs
        |  FROM c GROUP BY 1),
        |pr AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS digit,
        |    unnest([301030, 176091, 124939, 96910, 79181,
        |            66947, 57992, 51153, 45757]) AS p_e6),
        |n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM obs)
        |SELECT pr.digit, coalesce(obs.obs, 0) AS obs,
        |  n.n * pr.p_e6 AS exp_e6,
        |  CAST((coalesce(obs.obs, 0) * 1000000 - CAST(n.n AS HUGEINT) * pr.p_e6)
        |    * (coalesce(obs.obs, 0) * 1000000 - CAST(n.n AS HUGEINT) * pr.p_e6)
        |    // (CAST(n.n AS HUGEINT) * pr.p_e6) AS BIGINT) AS cell_chi2_e6
        |FROM pr LEFT JOIN obs USING (digit), n
        |ORDER BY pr.digit""".stripMargin,

    // Cohort LTV replay: weekly revenue cells, per-cohort cumulative
    // walk, exact per-member rate.
    "q_cohort_ltv" ->
      """WITH ev AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk,
        |    CASE WHEN event_type = 'purchase'
        |         THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END AS rev_c
        |  FROM events),
        |ch AS (SELECT user_id, min(wk) AS c0 FROM ev GROUP BY 1),
        |sz AS (SELECT c0 AS cohort, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM ch GROUP BY 1),
        |cell AS (SELECT ch.c0 AS cohort, ev.wk - ch.c0 AS "offset",
        |    CAST(sum(ev.rev_c) AS BIGINT) AS rev_cents
        |  FROM ev JOIN ch USING (user_id) GROUP BY 1, 2),
        |cum AS (SELECT cohort, "offset", rev_cents,
        |    CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY "offset"
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_rev_cents
        |  FROM cell)
        |SELECT c.cohort, c."offset", c.rev_cents, c.cum_rev_cents,
        |  s.cohort_size,
        |  c.cum_rev_cents * 1000000 // s.cohort_size AS cum_rev_per_user_e6
        |FROM cum c JOIN sz s ON s.cohort = c.cohort
        |ORDER BY c.cohort, c."offset"""".stripMargin,

    // Sequence-mining replay: identical keyed lead pair with the
    // (ts, event_id) deterministic order.
    "q_seq_mining" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |tri AS (SELECT user_id, event_type AS t1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS t2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY us, event_id) AS t3
        |  FROM ev)
        |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_occ,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM tri WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY t1, t2, t3
        |ORDER BY n_occ DESC, t1, t2, t3 LIMIT 20""".stripMargin,

    // Markov stationary replay: transition counts, 1e-6 row
    // normalization, 10 materialized truncating power steps.
    "q_markov_stationary" -> {
      def round(i: Int): String =
        s"""mkp$i AS MATERIALIZED (
           |  SELECT st.s,
           |    CAST(coalesce(sum(p.p * t.t_e6), 0) // 1000000 AS BIGINT) AS p
           |  FROM st LEFT JOIN t6 t ON t.j = st.s
           |          LEFT JOIN mkp${i - 1} p ON p.s = t.i
           |  GROUP BY st.s)""".stripMargin
      val rounds = (1 to 10).map(round).mkString(",\n")
      s"""WITH ev AS (SELECT user_id, event_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |pairs AS (SELECT event_type AS i,
         |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS j
         |  FROM ev),
         |trans AS (SELECT i, j, CAST(count(*) AS BIGINT) AS c FROM pairs
         |  WHERE j IS NOT NULL GROUP BY i, j),
         |rt AS (SELECT i, CAST(sum(c) AS BIGINT) AS r FROM trans GROUP BY i),
         |t6 AS (SELECT t.i, t.j, t.c * 1000000 // rt.r AS t_e6
         |  FROM trans t JOIN rt USING (i)),
         |st AS (SELECT DISTINCT i AS s FROM trans
         |       UNION SELECT DISTINCT j FROM trans),
         |mkp0 AS (SELECT s,
         |    CAST(1000000 // (SELECT count(*) FROM st) AS BIGINT) AS p FROM st),
         |$rounds
         |SELECT s AS event_type, p AS stationary_e6 FROM mkp10
         |ORDER BY event_type""".stripMargin
    },

    // SRM replay: same hash assignment, exact 1-df chi2 against 50/50.
    "q_ab_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT (user_id * 1000003 + 12345) % 97 % 2 AS v FROM u)
        |SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST((sum(CASE WHEN v = 0 THEN 1 ELSE 0 END)
        |     - sum(CASE WHEN v = 1 THEN 1 ELSE 0 END))
        |  * (sum(CASE WHEN v = 0 THEN 1 ELSE 0 END)
        |     - sum(CASE WHEN v = 1 THEN 1 ELSE 0 END))
        |  * 1000000 // count(*) AS BIGINT) AS srm_chi2_e6
        |FROM v""".stripMargin,

    // CUPED replay: same pre/post split, theta at 1e-6 from exact
    // decimal sufficient stats, n-scaled adjusted means with identical
    // chained truncating division.
    "q_cuped" ->
      """WITH ev AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CASE WHEN event_type = 'purchase'
        |         THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END AS rc
        |  FROM events),
        |mid AS (SELECT (min(d) + max(d)) // 2 AS mid FROM ev),
        |u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN d < mid THEN rc ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN d >= mid THEN rc ELSE 0 END) AS BIGINT) AS y,
        |    (user_id * 1000003 + 12345) % 97 % 2 AS v
        |  FROM ev, mid GROUP BY user_id),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM u),
        |th AS (SELECT n, sx,
        |    CAST((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
        |      // nullif(n * sxx - CAST(sx AS HUGEINT) * sx, 0) AS BIGINT) AS theta_e6
        |  FROM st)
        |SELECT u.v, CAST(count(*) AS BIGINT) AS n_users, th.theta_e6,
        |  CAST(sum(CAST(th.n AS HUGEINT) * u.y * 1000000
        |           - CAST(th.theta_e6 AS HUGEINT) * (th.n * u.x - th.sx))
        |    // th.n // count(*) AS BIGINT) AS adj_mean_e6
        |FROM u, th GROUP BY u.v, th.theta_e6, th.n
        |ORDER BY u.v""".stripMargin,

    // QTE replay: per-variant exact 2x medians of user spend.
    "q_qte" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS spend,
        |    (user_id * 1000003 + 12345) % 97 % 2 AS v
        |  FROM events GROUP BY user_id)
        |SELECT v, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(2 * quantile_cont(spend, 0.5) AS BIGINT) AS med2_cents
        |FROM u GROUP BY v ORDER BY v""".stripMargin,

    // Clustering-coefficient replay: same symmetrized dedup'd edges,
    // one wedge support pass, per-node summed support halved.
    "q_clustering_coef" ->
      """WITH p AS (SELECT l_partkey AS src,
        |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
        |  FROM lineitem),
        |und AS (SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM p WHERE dst IS NOT NULL AND src <> dst
        |    UNION ALL
        |    SELECT dst, src FROM p WHERE dst IS NOT NULL AND src <> dst) u),
        |o AS (SELECT src AS a, dst AS b FROM und WHERE src < dst),
        |sup AS (SELECT o.a, o.b, CAST(count(*) AS BIGINT) AS s
        |  FROM o JOIN und n1 ON n1.src = o.a
        |         JOIN und n2 ON n2.src = o.b AND n2.dst = n1.dst
        |  GROUP BY o.a, o.b),
        |ns AS (SELECT node, CAST(sum(s) AS BIGINT) AS s2 FROM (
        |    SELECT a AS node, s FROM sup UNION ALL SELECT b, s FROM sup) z
        |  GROUP BY 1),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |  FROM und GROUP BY 1)
        |SELECT d.node, d.deg, coalesce(ns.s2, 0) // 2 AS triangles,
        |  coalesce(ns.s2, 0) * 1000000 // (d.deg * (d.deg - 1)) AS coef_e6
        |FROM deg d LEFT JOIN ns USING (node)
        |WHERE d.deg >= 3
        |ORDER BY coef_e6 DESC, d.node LIMIT 50""".stripMargin,

    // Conductance replay: same brand-tagged undirected edges; cut and
    // volume per brand, min-side denominator.
    "q_conductance" ->
      """WITH p AS (SELECT l_partkey AS src,
        |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM p WHERE dst IS NOT NULL AND src <> dst),
        |e AS (SELECT e0.a, e0.b, pa.p_brand AS ba, pb.p_brand AS bb
        |  FROM e0 JOIN part pa ON pa.p_partkey = e0.a
        |          JOIN part pb ON pb.p_partkey = e0.b),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |cut AS (SELECT brand, CAST(count(*) AS BIGINT) AS cut FROM (
        |    SELECT ba AS brand FROM e WHERE ba <> bb
        |    UNION ALL SELECT bb FROM e WHERE ba <> bb) z GROUP BY 1),
        |vol AS (SELECT brand, CAST(count(*) AS BIGINT) AS vol FROM (
        |    SELECT ba AS brand FROM e UNION ALL SELECT bb FROM e) z GROUP BY 1)
        |SELECT vol.brand, coalesce(cut.cut, 0) AS cut, vol.vol,
        |  coalesce(cut.cut, 0) * 1000000
        |    // nullif(least(vol.vol, 2 * m.m - vol.vol), 0) AS phi_e6
        |FROM vol LEFT JOIN cut ON cut.brand = vol.brand, m
        |ORDER BY vol.brand""".stripMargin,

    // MAP replay: distinct-token overlap ranking, top-20 cumulative
    // hits, trec_eval AP with truncating divisions, zero-AP queries
    // kept by the left join from the query set.
    "q_map" -> {
      val w = wordsSql("lower(text)")
      s"""WITH t0 AS (SELECT doc_id, lang, unnest($w) AS tok FROM documents),
         |toks AS (SELECT DISTINCT doc_id, lang, tok FROM t0
         |  WHERE len(tok) >= 2),
         |q AS (SELECT doc_id AS qid, lang AS qlang, tok FROM toks
         |  WHERE doc_id < 100 AND doc_id % 5 = 0),
         |c AS (SELECT doc_id AS did, lang AS dlang, tok FROM toks
         |  WHERE doc_id >= 100 AND doc_id < 1100),
         |ov AS (SELECT qid, qlang, did, dlang, CAST(count(*) AS BIGINT) AS ov
         |  FROM q JOIN c USING (tok) GROUP BY 1, 2, 3, 4),
         |rk AS (SELECT qid, qlang, did, dlang, ov,
         |    row_number() OVER (PARTITION BY qid ORDER BY ov DESC, did) AS rk
         |  FROM ov),
         |top AS (SELECT * FROM rk WHERE rk <= 20),
         |h AS (SELECT qid, qlang, dlang, rk,
         |    CAST(sum(CASE WHEN qlang = dlang THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY qid ORDER BY ov DESC, did
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS hits
         |  FROM top),
         |ap AS (SELECT qid, qlang,
         |    CAST(sum(hits * 1000000 // rk) AS BIGINT) AS sp
         |  FROM h WHERE qlang = dlang GROUP BY 1, 2),
         |nrel AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
         |  FROM documents WHERE doc_id >= 100 AND doc_id < 1100 GROUP BY 1),
         |ap2 AS (SELECT ap.qid, ap.sp // least(nrel.n_lang, 20) AS ap_e6
         |  FROM ap JOIN nrel ON nrel.lang = ap.qlang),
         |qs AS (SELECT doc_id AS qid FROM documents
         |  WHERE doc_id < 100 AND doc_id % 5 = 0)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(coalesce(ap2.ap_e6, 0)) // count(*) AS BIGINT) AS map_e6
         |FROM qs LEFT JOIN ap2 USING (qid)""".stripMargin
    },

    // Split-leakage replay: the shared LSH pipeline, the same
    // arithmetic-hash 80/20 split, cross-split near-dup pairs
    // oriented train -> test.
    "q_split_leakage" ->
      s"""WITH $lshPairsCtes,
         |near AS (SELECT doc_a, doc_b, jaccard,
         |    doc_a * 2654435761 % 97 % 5 = 0 AS ta,
         |    doc_b * 2654435761 % 97 % 5 = 0 AS tb
         |  FROM scored WHERE jaccard >= 0.8)
         |SELECT CASE WHEN ta THEN doc_b ELSE doc_a END AS train_doc,
         |  CASE WHEN ta THEN doc_a ELSE doc_b END AS test_doc, jaccard
         |FROM near WHERE ta <> tb
         |ORDER BY train_doc, test_doc""".stripMargin,

    // Transitivity replay: same symmetrized edges; wedges from the
    // degree aggregate, triangles from the wedge join div 3.
    "q_transitivity" ->
      """WITH p AS (SELECT l_partkey AS src,
        |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
        |  FROM lineitem),
        |und AS (SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM p WHERE dst IS NOT NULL AND src <> dst
        |    UNION ALL
        |    SELECT dst, src FROM p WHERE dst IS NOT NULL AND src <> dst) u),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
        |wg AS (SELECT CAST(sum(d * (d - 1)) AS BIGINT) // 2 AS wedges FROM deg),
        |o AS (SELECT src AS a, dst AS b FROM und WHERE src < dst),
        |tr AS (SELECT CAST(count(*) AS BIGINT) // 3 AS triangles
        |  FROM o JOIN und n1 ON n1.src = o.a
        |         JOIN und n2 ON n2.src = o.b AND n2.dst = n1.dst
        |  WHERE n1.dst = n2.dst),
        |ed AS (SELECT CAST(count(*) AS BIGINT) // 2 AS edges FROM und)
        |SELECT ed.edges, wg.wedges, tr.triangles,
        |  CAST(3 * tr.triangles * 1000000 // nullif(wg.wedges, 0) AS BIGINT)
        |    AS transitivity_e6
        |FROM ed, wg, tr""".stripMargin,

    // Windowed-funnel replay: same stage chain with and without the
    // 3-day gap bounds.
    "q_funnel_window" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
        |s1 AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN t END) AS f1
        |  FROM ev GROUP BY 1 HAVING f1 IS NOT NULL),
        |s2u AS (SELECT e.user_id, min(e.t) AS f2u FROM ev e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.t > s1.f1 GROUP BY 1),
        |s2w AS (SELECT e.user_id, min(e.t) AS f2w FROM ev e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.t > s1.f1
        |    AND e.t <= s1.f1 + 259200000000 GROUP BY 1),
        |s3u AS (SELECT e.user_id, min(e.t) AS f3u FROM ev e
        |  JOIN s2u USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.t > s2u.f2u GROUP BY 1),
        |s3w AS (SELECT e.user_id, min(e.t) AS f3w FROM ev e
        |  JOIN s2w USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.t > s2w.f2w
        |    AND e.t <= s2w.f2w + 259200000000 GROUP BY 1)
        |SELECT
        |  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_view,
        |  CAST((SELECT count(*) FROM s2u) AS BIGINT) AS n_click_any,
        |  CAST((SELECT count(*) FROM s2w) AS BIGINT) AS n_click_3d,
        |  CAST((SELECT count(*) FROM s3u) AS BIGINT) AS n_purchase_any,
        |  CAST((SELECT count(*) FROM s3w) AS BIGINT) AS n_purchase_3d,
        |  CAST((SELECT count(*) FROM s3w) * 1000000
        |    // nullif((SELECT count(*) FROM s1), 0) AS BIGINT)
        |    AS windowed_cvr_e6""".stripMargin,

    // Time-to-convert replay: same stage mins, latency in whole
    // seconds, per-variant 2x median + exact mean.
    "q_time_to_convert" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
        |s1 AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN t END) AS f1
        |  FROM ev GROUP BY 1 HAVING f1 IS NOT NULL),
        |conv AS (SELECT e.user_id, s1.f1, min(e.t) AS f3 FROM ev e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.t > s1.f1
        |  GROUP BY 1, 2),
        |lat AS (SELECT user_id, (f3 - f1) // 1000000 AS lat_s,
        |    (user_id * 1000003 + 12345) % 97 % 2 AS v
        |  FROM conv)
        |SELECT v, CAST(count(*) AS BIGINT) AS n_converted,
        |  CAST(2 * quantile_cont(lat_s, 0.5) AS BIGINT) AS med2_lat_s,
        |  CAST(sum(lat_s) * 1000000 // count(*) AS BIGINT) AS mean_lat_e6_s
        |FROM lat GROUP BY v ORDER BY v""".stripMargin,

    // n-gram novelty replay: same split hash, same slice-based gram
    // construction, distinct per side, anti via left-join-null.
    "q_ngram_novelty" -> {
      val w = wordsSql("lower(text)")
      s"""WITH t AS (SELECT doc_id, $w AS w,
         |    doc_id * 2654435761 % 97 % 5 = 0 AS is_test FROM documents),
         |ns AS (SELECT unnest([1, 2, 3]) AS n),
         |g AS (SELECT is_test, n,
         |    unnest(list_transform(range(len(w) - n + 1),
         |      i -> array_to_string(list_slice(w, i + 1, i + n), ' '))) AS g
         |  FROM t, ns WHERE len(w) >= n),
         |tr AS (SELECT DISTINCT n, g FROM g WHERE NOT is_test),
         |te AS (SELECT DISTINCT n, g FROM g WHERE is_test)
         |SELECT CAST(te.n AS BIGINT) AS n,
         |  CAST(count(*) AS BIGINT) AS n_test_grams,
         |  CAST(sum(CASE WHEN tr.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST(sum(CASE WHEN tr.g IS NULL THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS novelty_e6
         |FROM te LEFT JOIN tr ON tr.n = te.n AND tr.g = te.g
         |GROUP BY te.n ORDER BY te.n""".stripMargin
    },

    // EB-smoothing replay: same cleared-fraction shrinkage with
    // pseudo-count strength 20.
    "q_eb_smoothing" ->
      """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM documents GROUP BY source),
        |g AS (SELECT CAST(sum(n) AS BIGINT) AS n_g,
        |    CAST(sum(k) AS BIGINT) AS k_g FROM per)
        |SELECT per.source, per.n, per.k,
        |  per.k * 1000000 // per.n AS raw_e6,
        |  CAST((CAST(per.k AS HUGEINT) * g.n_g + 20 * g.k_g) * 1000000
        |    // (CAST(g.n_g AS HUGEINT) * (per.n + 20)) AS BIGINT)
        |    AS smoothed_e6
        |FROM per, g
        |ORDER BY per.source""".stripMargin,


    // Dup-inflation replay: same md5 keeper (min doc_id), token
    // counts via the shared tokenizer, exact integral ratio.
    "q_dup_inflation" ->
      (s"""WITH d AS (SELECT doc_id, lang,
        |    CAST(len(${wordsSql("lower(text)")}) AS BIGINT) AS toks,
        |    md5(text) AS fp
        |  FROM documents),
        |k AS (SELECT doc_id, lang, toks,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1 AS keep
        |  FROM d)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS total_toks,
        |  CAST(sum(CASE WHEN keep THEN toks ELSE 0 END) AS BIGINT) AS kept_toks,
        |  CAST(sum(toks) * 1000000
        |    // nullif(sum(CASE WHEN keep THEN toks ELSE 0 END), 0) AS BIGINT)
        |    AS inflation_e6
        |FROM k GROUP BY lang ORDER BY lang""").stripMargin,

    // Peak-concurrency replay: same +1/-1 boundaries (end at +1 us),
    // same (t, delta) tie-break, per-day running max.
    "q_peak_concurrency" ->
      """WITH iv AS (SELECT
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    user_id,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS lo,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS hi
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT day, lo AS t, CAST(1 AS BIGINT) AS delta FROM iv
        |  UNION ALL SELECT day, hi + 1, CAST(-1 AS BIGINT) FROM iv),
        |r AS (SELECT day, CAST(sum(delta) OVER (PARTITION BY day
        |    ORDER BY t, delta
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS run
        |  FROM b)
        |SELECT day, CAST(count(*) AS BIGINT) // 2 AS n_users,
        |  CAST(max(run) AS BIGINT) AS peak_concurrent
        |FROM r GROUP BY day ORDER BY day""".stripMargin,

    // Good-Turing replay: same tokenize→trigram shingle, count-of-
    // counts, r→r+1 self join; every division is the same truncating
    // integer `//`. range(1, len-1) is end-exclusive = Spark's
    // inclusive sequence(1, size-2): both emit exactly len-2 trigrams
    // and nothing for docs under 3 words.
    "q_good_turing" ->
      """WITH d AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |t AS (SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS token
        |      FROM d, unnest(range(1, len(toks) - 1)) AS u(i)),
        |g AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
        |cc AS (SELECT cnt AS r, count(*) AS n_r FROM g GROUP BY cnt),
        |tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens,
        |          CAST(sum(n_r) AS BIGINT) AS n_types,
        |          CAST(max(CASE WHEN r = 1 THEN n_r END) AS BIGINT) AS n1 FROM cc)
        |SELECT c.r, c.n_r, CAST(coalesce(n.n_r, 0) AS BIGINT) AS n_r1,
        |  CAST(((c.r + 1) * coalesce(n.n_r, 0) * 1000000) // c.n_r AS BIGINT) AS rstar_e6,
        |  n_types, n_tokens,
        |  CAST((n1 * 1000000) // n_tokens AS BIGINT) AS p0_e6
        |FROM cc c LEFT JOIN cc n ON n.r = c.r + 1 CROSS JOIN tot
        |WHERE c.r <= 10
        |ORDER BY c.r""".stripMargin,

    // ANOVA replay: identical sufficient stats and the same chained
    // truncating divisions; squared sums ride HUGEINT (= decimal38).
    "q_anova" ->
      """WITH g AS (SELECT l_returnflag AS grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qq
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n_total,
        |    CAST(sum(s) AS HUGEINT) AS s_total, CAST(sum(qq) AS BIGINT) AS qq_total,
        |    CAST(sum((CAST(s AS HUGEINT) * s * 1000000) // n) AS BIGINT) AS a_e6 FROM g),
        |t2 AS (SELECT k, n_total,
        |    CAST(a_e6 - ((s_total * s_total * 1000000) // n_total) AS BIGINT) AS ssb_e6,
        |    CAST(qq_total * 1000000 - a_e6 AS BIGINT) AS ssw_e6 FROM t)
        |SELECT k, n_total, ssb_e6, ssw_e6,
        |  CAST((CAST(ssb_e6 AS HUGEINT) * (n_total - k) * 1000000)
        |    // nullif(CAST(ssw_e6 AS HUGEINT) * (k - 1), 0) AS BIGINT) AS f_e6
        |FROM t2""".stripMargin,

    // Kneser-Ney replay: array-side bigrams (range end-exclusive =
    // Spark's inclusive sequence), identical type-table stats, every
    // division the same truncating `//` on positives.
    "q_kneser_ney" ->
      """WITH d AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |b AS (SELECT toks[i] AS w1, toks[i+1] AS w2
        |      FROM d, unnest(range(1, len(toks))) AS u(i)),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM b GROUP BY 1, 2),
        |l AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS n1fw
        |      FROM c12 GROUP BY 1),
        |r AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1bw FROM c12 GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nbig FROM c12)
        |SELECT w1, w2, c12, c1, n1fw, n1bw,
        |  CAST((((4 * c12 - 3) * 250000) // c1)
        |    + ((((3 * n1fw * 250000) // c1)
        |        * ((n1bw * 1000000) // nbig)) // 1000000) AS BIGINT) AS pkn_e6
        |FROM c12 JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
        |ORDER BY c12 DESC, w1, w2 LIMIT 30""".stripMargin,

    // RAKE replay: same stopword segmentation via a per-doc running
    // stopword count, same deg/freq word scores and per-occurrence
    // phrase sums, all e6 truncating-integer.
    "q_rake" ->
      """WITH t AS (
        |  SELECT doc_id, i AS pos, toks[i] AS w,
        |    toks[i] IN ('the', 'a', 'and', 'of', 'to') AS is_stop
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |        FROM documents) d,
        |       unnest(range(1, len(toks) + 1)) AS u(i)),
        |p AS (SELECT doc_id, pos, w,
        |        sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
        |      FROM t QUALIFY NOT is_stop),
        |ph AS (SELECT doc_id, phrase_id,
        |         string_agg(w, ' ' ORDER BY pos) AS phrase,
        |         CAST(count(*) AS BIGINT) AS plen
        |       FROM p GROUP BY 1, 2),
        |ws AS (SELECT w, CAST((sum(plen) * 1000000) // count(*) AS BIGINT) AS wscore_e6
        |       FROM (SELECT plen, unnest(string_split(phrase, ' ')) AS w FROM ph)
        |       GROUP BY w),
        |pd AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occur FROM ph GROUP BY 1),
        |pw AS (SELECT phrase, n_occur, unnest(string_split(phrase, ' ')) AS w FROM pd)
        |SELECT phrase, CAST(count(*) AS BIGINT) AS plen, n_occur,
        |  CAST(sum(wscore_e6) AS BIGINT) AS score_e6
        |FROM pw JOIN ws USING (w)
        |GROUP BY phrase, n_occur
        |ORDER BY score_e6 DESC, phrase LIMIT 20""".stripMargin,

    // Kruskal-Wallis replay: identical support walk (50 distinct
    // quantities), 2x midranks, decimal/HUGEINT H with the same
    // truncating divisions and tie correction.
    "q_kruskal_wallis" ->
      """WITH pv AS (SELECT l_returnflag AS grp, CAST(round(l_quantity) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |sup AS (SELECT v, CAST(sum(c) AS BIGINT) AS ct FROM pv GROUP BY 1),
        |wk AS (SELECT v, ct,
        |    CAST(coalesce(sum(ct) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS lt
        |  FROM sup),
        |per AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(CAST(c AS HUGEINT) * (2 * lt + ct + 1)) AS HUGEINT) AS r2
        |  FROM pv JOIN wk USING (v) GROUP BY 1),
        |ties AS (SELECT CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS HUGEINT) AS tie_cubed
        |  FROM sup),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n_total,
        |    CAST(sum((r2 * r2) // CAST(n AS HUGEINT)) AS HUGEINT) AS srr
        |  FROM per),
        |h AS (SELECT k, n_total, tie_cubed,
        |    (CAST(3000000 AS HUGEINT) * srr)
        |      // (CAST(n_total AS HUGEINT) * (n_total + 1))
        |      - CAST(3 AS HUGEINT) * (n_total + 1) * 1000000 AS h_e6
        |  FROM agg CROSS JOIN ties)
        |SELECT k, n_total, CAST(tie_cubed AS BIGINT) AS tie_cubed,
        |  CAST(h_e6 AS BIGINT) AS h_e6,
        |  CAST((h_e6 * (CAST(n_total AS HUGEINT) * n_total * n_total - n_total))
        |    // (CAST(n_total AS HUGEINT) * n_total * n_total - n_total - tie_cubed)
        |    AS BIGINT) AS h_corr_e6
        |FROM h""".stripMargin,

    // Binary-hamming replay: same two half-word sign packings (left
    // fold, shift-or-add), bit_count over xor, ranked per query.
    "q_ann_hamming" ->
      s"""WITH $hammingCtes
         |SELECT query_id, neighbor_id, rnk, hamming FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY hamming, neighbor_id) AS BIGINT) AS rnk
         |  FROM hsc)
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    // SQ8 replay: per-dim min/max, the same floor affine quantization
    // (identical double expression order), integer squared distance.
    "q_ann_sq8" ->
      s"""WITH $sq8Ctes
         |SELECT query_id, neighbor_id, rnk, d2_code FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY d2_code, neighbor_id) AS BIGINT) AS rnk
         |  FROM qsc)
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    // Binary-hamming + exact refine replay: the hsc pair table
    // shortlisted to k'=20 per query, candidates joined back to their
    // normalized vectors, exact cosine 1e6-floored, re-ranked to top-3.
    "q_ann_hamming_refine" ->
      s"""WITH $hammingCtes,
         |sl AS (SELECT query_id, neighbor_id, hamming FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY hamming, neighbor_id) AS arn FROM hsc) WHERE arn <= 20),
         |nrm AS (SELECT vec_id, ${normSql("v")} AS v FROM he0),
         |re AS (SELECT s.query_id, s.neighbor_id, s.hamming,
         |    CAST(floor(${dotSql("q.v", "n.v")} * 1000000.0) AS BIGINT) AS cos_e6
         |  FROM sl s JOIN nrm q ON s.query_id = q.vec_id
         |       JOIN nrm n ON s.neighbor_id = n.vec_id)
         |SELECT query_id, neighbor_id, rnk, hamming, cos_e6 FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_e6 DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM re)
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    // Quantization-family recall replay: each index's top-3 against
    // its own metric's exact truth (cosine for sign bits — raw and
    // refine-through-20 — squared L2 for int8 codes); the hit counts
    // hash-match; sq8 carries the floor gate.
    "q_ann_quant_recall" ->
      s"""WITH $hammingCtes,
         |$sq8Ctes,
         |ha AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY hamming, neighbor_id) AS rnk FROM hsc) WHERE rnk <= 3),
         |qa AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY d2_code, neighbor_id) AS rnk FROM qsc) WHERE rnk <= 3),
         |nrmq AS (SELECT vec_id, ${normSql("v")} AS v FROM he0),
         |hsl AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY hamming, neighbor_id) AS arn FROM hsc) WHERE arn <= 20),
         |hre AS (SELECT s.query_id, s.neighbor_id,
         |    CAST(floor(${dotSql("q.v", "n.v")} * 1000000.0) AS BIGINT) AS cos_e6
         |  FROM hsl s JOIN nrmq q ON s.query_id = q.vec_id
         |       JOIN nrmq n ON s.neighbor_id = n.vec_id),
         |hrefa AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_e6 DESC, neighbor_id) AS rnk FROM hre) WHERE rnk <= 3),
         |csc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${dotSql("q.v", "c.v")} AS cs
         |  FROM nrmq c JOIN nrmq q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |ctruth AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cs DESC, neighbor_id) AS rnk FROM csc) WHERE rnk <= 3),
         |lsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${dotSql("c.v", "c.v")} - 2.0 * ${dotSql("q.v", "c.v")} + ${dotSql("q.v", "q.v")} AS d2
         |  FROM he0 c JOIN he0 q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |ltruth AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY d2, neighbor_id) AS rnk FROM lsc) WHERE rnk <= 3),
         |hh AS (SELECT count(*) AS n FROM ctruth t JOIN ha a USING (query_id, neighbor_id)),
         |hrh AS (SELECT count(*) AS n FROM ctruth t JOIN hrefa a USING (query_id, neighbor_id)),
         |qh AS (SELECT count(*) AS n FROM ltruth t JOIN qa a USING (query_id, neighbor_id)),
         |ct AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
         |    count(*) AS n_truth FROM ctruth),
         |lt AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
         |    count(*) AS n_truth FROM ltruth)
         |SELECT method, n_queries, n_truth, n_hits,
         |  CASE WHEN method = 'sq8_vs_l2' THEN n_hits * 4 >= n_truth * 3 END AS floor_3of4
         |FROM (
         |  SELECT 'hamming64_vs_cos' AS method, ct.n_queries, ct.n_truth,
         |    hh.n AS n_hits FROM ct CROSS JOIN hh
         |  UNION ALL
         |  SELECT 'hamming64_refine20_vs_cos', ct.n_queries, ct.n_truth, hrh.n
         |  FROM ct CROSS JOIN hrh
         |  UNION ALL
         |  SELECT 'sq8_vs_l2', lt.n_queries, lt.n_truth, qh.n FROM lt CROSS JOIN qh)
         |ORDER BY method""".stripMargin,

    // Harmonic-centrality replay: per-root BFS unrolled 8 rounds over
    // the symmetrized part graph; the fixguard CTE error()s if round 8
    // still grew any root's reach (the q_ktruss explicit-assumption
    // discipline), so an insufficient unroll can never silently hash.
    "q_harmonic_centrality" -> {
      s"""WITH $partEdgeCtes,
         |$partRootBfsCtes
         |SELECT root, CAST(count(*) AS BIGINT) AS n_reached,
         |  CAST(sum(d) AS BIGINT) AS sum_d,
         |  CAST(CASE WHEN at_fixpoint = 1 THEN sum(1000000 // d) ELSE error(
         |    'q_harmonic_centrality oracle: hd8 <> hd7, unroll depth insufficient - add rounds')
         |  END AS BIGINT) AS harmonic_e6
         |FROM hd8 CROSS JOIN fixguard
         |WHERE d > 0 GROUP BY root, at_fixpoint ORDER BY root""".stripMargin
    },

    // Silhouette replay: the shared 3-round Lloyd chain (kmeansCtes →
    // af), per-(probe, cell) means of 1e6-floored Euclidean distances,
    // same truncating divisions.
    "q_silhouette" ->
      s"""WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |$kmeansCtes,
         |pts AS (SELECT e0.vec_id, af.cell, v FROM e0 JOIN af ON e0.vec_id = af.vec_id),
         |pr AS (SELECT vec_id AS probe_id, cell AS probe_cell, v AS pv
         |       FROM pts WHERE vec_id < 50),
         |cm AS (SELECT probe_id, probe_cell, c.cell,
         |    CAST(sum(CAST(floor(sqrt(greatest(
         |      ${dotSql("pv", "pv")} - 2.0 * ${dotSql("pv", "c.v")} + ${dotSql("c.v", "c.v")},
         |      0.0)) * 1000000.0) AS BIGINT)) // count(*) AS BIGINT) AS mean_e6
         |  FROM pts c CROSS JOIN pr
         |  WHERE c.vec_id <> pr.probe_id
         |  GROUP BY 1, 2, 3),
         |a AS (SELECT probe_id, probe_cell, mean_e6 AS a_e6 FROM cm WHERE cell = probe_cell),
         |b AS (SELECT probe_id, CAST(min(mean_e6) AS BIGINT) AS b_e6 FROM cm
         |      WHERE cell <> probe_cell GROUP BY 1)
         |SELECT a.probe_id, probe_cell, a_e6, b_e6,
         |  CAST(((b_e6 - a_e6) * 1000000) // greatest(a_e6, b_e6) AS BIGINT) AS s_e6
         |FROM a JOIN b ON a.probe_id = b.probe_id
         |ORDER BY a.probe_id""".stripMargin,

    // Brown-Forsythe replay: 2x group medians, integer deviations,
    // then the q_anova sufficient-stat chain on z.
    "q_levene" ->
      """WITH e AS (SELECT l_returnflag AS grp, CAST(round(l_quantity) AS BIGINT) AS q
        |  FROM lineitem),
        |med AS (SELECT grp, CAST(2 * quantile_cont(q, 0.5) AS BIGINT) AS m2
        |        FROM e GROUP BY grp),
        |z AS (SELECT e.grp, abs(2 * q - m2) AS z FROM e JOIN med USING (grp)),
        |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n, CAST(sum(z) AS BIGINT) AS s,
        |    CAST(sum(z * z) AS BIGINT) AS qq
        |  FROM z GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n_total,
        |    CAST(sum(s) AS HUGEINT) AS s_total, CAST(sum(qq) AS BIGINT) AS qq_total,
        |    CAST(sum((CAST(s AS HUGEINT) * s * 1000000) // n) AS BIGINT) AS a_e6 FROM g),
        |t2 AS (SELECT k, n_total,
        |    CAST(a_e6 - ((s_total * s_total * 1000000) // n_total) AS BIGINT) AS ssb_e6,
        |    CAST(qq_total * 1000000 - a_e6 AS BIGINT) AS ssw_e6 FROM t)
        |SELECT k, n_total, ssb_e6, ssw_e6,
        |  CAST((CAST(ssb_e6 AS HUGEINT) * (n_total - k) * 1000000)
        |    // nullif(CAST(ssw_e6 AS HUGEINT) * (k - 1), 0) AS BIGINT) AS w_e6
        |FROM t2""".stripMargin,

    // Seasonal-decomposition replay: same centered 7-day frame, same
    // truncating divisions (both engines truncate toward zero on
    // negative detrended values).
    "q_decompose" ->
      """WITH daily AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |t AS (SELECT day, x,
        |    count(x) OVER win AS n7,
        |    CAST(sum(x) OVER win AS BIGINT) AS sum7
        |  FROM daily WINDOW win AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (SELECT day, x,
        |    CAST((sum7 * 1000000) // 7 AS BIGINT) AS trend_e6,
        |    CAST(x * 1000000 - (sum7 * 1000000) // 7 AS BIGINT) AS det_e6,
        |    day % 7 AS wd
        |  FROM t WHERE n7 = 7),
        |s AS (SELECT wd, CAST(sum(det_e6) // count(*) AS BIGINT) AS s_e6 FROM t2 GROUP BY 1),
        |m AS (SELECT CAST(sum(s_e6) // 7 AS BIGINT) AS mean_s FROM s),
        |sa AS (SELECT wd, s_e6 - mean_s AS seasonal_e6 FROM s CROSS JOIN m)
        |SELECT day, x, trend_e6, seasonal_e6,
        |  CAST(det_e6 - seasonal_e6 AS BIGINT) AS resid_e6
        |FROM t2 JOIN sa USING (wd) ORDER BY day""".stripMargin,

    // Entropy replay: same (lang, token) type table, each type's
    // p·ln(1/p) contribution e9-floor-quantized from the identical
    // double expression before the sum.
    "q_entropy" ->
      """WITH t AS (SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |g AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types FROM g GROUP BY 1)
        |SELECT lang, n_tokens, n_types,
        |  CAST(sum(CAST(floor(c * ln(CAST(n_tokens AS DOUBLE) / c) / n_tokens
        |    * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS h_e9,
        |  CAST(floor(ln(CAST(n_types AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT) AS hmax_e9
        |FROM g JOIN tot USING (lang)
        |GROUP BY lang, n_tokens, n_types
        |ORDER BY lang""".stripMargin,

    // Jensen-Shannon replay: full-outer vocab join of the two halves,
    // identical double expressions e9-floored per type, integer sums.
    "q_js_div" ->
      """WITH t AS (SELECT doc_id % 2 AS half,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |g AS (SELECT half, token, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
        |j AS (SELECT coalesce(p.token, q.token) AS token,
        |    CAST(coalesce(p.c, 0) AS BIGINT) AS cp, CAST(coalesce(q.c, 0) AS BIGINT) AS cq
        |  FROM (SELECT token, c FROM g WHERE half = 0) p
        |  FULL OUTER JOIN (SELECT token, c FROM g WHERE half = 1) q USING (token)),
        |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cq) AS BIGINT) AS nq,
        |    CAST(count(*) AS BIGINT) AS n_types FROM j),
        |terms AS (SELECT n_types, np, nq,
        |    CASE WHEN cp > 0 THEN CAST(floor(
        |      (CAST(cp AS DOUBLE) / np) * ln((CAST(cp AS DOUBLE) / np)
        |        / (((CAST(cp AS DOUBLE) / np) + (CAST(cq AS DOUBLE) / nq)) / 2.0))
        |      / 2.0 * 1000000000.0 + 0.5) AS BIGINT) ELSE 0 END AS tp_e9,
        |    CASE WHEN cq > 0 THEN CAST(floor(
        |      (CAST(cq AS DOUBLE) / nq) * ln((CAST(cq AS DOUBLE) / nq)
        |        / (((CAST(cp AS DOUBLE) / np) + (CAST(cq AS DOUBLE) / nq)) / 2.0))
        |      / 2.0 * 1000000000.0 + 0.5) AS BIGINT) ELSE 0 END AS tq_e9
        |  FROM j CROSS JOIN tot)
        |SELECT n_types, np, nq,
        |  CAST(sum(tp_e9) AS BIGINT) AS kl_p_e9,
        |  CAST(sum(tq_e9) AS BIGINT) AS kl_q_e9,
        |  CAST(sum(tp_e9) + sum(tq_e9) AS BIGINT) AS jsd_e9
        |FROM terms GROUP BY n_types, np, nq""".stripMargin,

    // Labeling-function replay: same space-padded keyword votes, the
    // same row-local (n_votes, min, max) summary, identical counts.
    "q_label_model" ->
      """WITH v AS (
        |  SELECT CASE WHEN instr(p, ' spark ') > 0 THEN CAST(1 AS BIGINT) END AS lf_spark,
        |    CASE WHEN instr(p, ' table ') > 0 THEN CAST(0 AS BIGINT) END AS lf_table,
        |    CASE WHEN instr(p, ' join ') > 0 AND instr(p, ' row ') = 0 THEN CAST(1 AS BIGINT)
        |         WHEN instr(p, ' row ') > 0 AND instr(p, ' join ') = 0 THEN CAST(0 AS BIGINT)
        |    END AS lf_join_row
        |  FROM (SELECT ' ' || trim(lower(text)) || ' ' AS p FROM documents) t),
        |s AS (SELECT *,
        |    (CASE WHEN lf_spark IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN lf_table IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN lf_join_row IS NOT NULL THEN 1 ELSE 0 END) AS n_votes,
        |    least(lf_spark, lf_table, lf_join_row) AS vmin,
        |    greatest(lf_spark, lf_table, lf_join_row) AS vmax
        |  FROM v),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM s),
        |m AS (SELECT 'lf_spark' AS lf, lf_spark AS vote, n_votes, vmin, vmax FROM s
        |  UNION ALL SELECT 'lf_table', lf_table, n_votes, vmin, vmax FROM s
        |  UNION ALL SELECT 'lf_join_row', lf_join_row, n_votes, vmin, vmax FROM s)
        |SELECT lf, CAST(count(*) AS BIGINT) AS n_labeled,
        |  CAST((count(*) * 1000000) // n_docs AS BIGINT) AS coverage_e6,
        |  CAST(sum(CASE WHEN n_votes >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
        |  CAST(sum(CASE WHEN vmin <> vmax THEN 1 ELSE 0 END) AS BIGINT) AS n_conflict,
        |  CAST(sum(vote) AS BIGINT) AS n_pos, n_docs
        |FROM m CROSS JOIN tot
        |WHERE vote IS NOT NULL
        |GROUP BY lf, n_docs
        |ORDER BY lf""".stripMargin,

    // MRR replay: full exact-cosine ranking per probe query, first
    // same-label rank, 1/rank as a truncating e6 integer.
    "q_mrr" ->
      s"""WITH e0 AS (SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nrm AS (SELECT vec_id, label, ${normSql("v")} AS v FROM e0),
         |sc AS (SELECT q.vec_id AS query_id, q.label AS true_label,
         |         c.vec_id AS neighbor_id, c.label AS n_label, ${dotSql("q.v", "c.v")} AS cos
         |       FROM nrm c JOIN (SELECT * FROM nrm WHERE vec_id < 50) q
         |         ON c.vec_id <> q.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         |      FROM sc)
         |SELECT query_id, true_label, CAST(min(rnk) AS BIGINT) AS first_rel_rank,
         |  CAST(1000000 // min(rnk) AS BIGINT) AS rr_e6
         |FROM r WHERE n_label = true_label
         |GROUP BY query_id, true_label
         |ORDER BY query_id""".stripMargin,

    // McNemar replay: per-user pre/post purchase flags around the
    // calendar midpoint, discordant-pair chi-square as exact integers.
    "q_mcnemar" ->
      """WITH ev AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    event_type = 'purchase' AS p
        |  FROM events),
        |m AS (SELECT (min(d) + max(d)) // 2 AS mid FROM ev),
        |per AS (SELECT user_id,
        |    max(CASE WHEN p AND d <= mid THEN 1 ELSE 0 END) AS pre,
        |    max(CASE WHEN p AND d > mid THEN 1 ELSE 0 END) AS post
        |  FROM ev CROSS JOIN m GROUP BY user_id),
        |agg AS (SELECT
        |    CAST(sum(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN pre = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        |    CAST(sum(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM per)
        |SELECT n11, n00, b, c,
        |  CAST(1000000 * (b - c) * (b - c) // nullif(b + c, 0) AS BIGINT) AS chi2_e6,
        |  CAST(1000000 * (abs(b - c) - 1) * (abs(b - c) - 1)
        |    // nullif(b + c, 0) AS BIGINT) AS chi2_cc_e6
        |FROM agg""".stripMargin,

    // DiD replay: 4 cells (treated x post) of mean purchase cents as
    // staged e6 integral divisions, then the double difference.
    "q_did" ->
      """WITH ev AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cts
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT (min(d) + max(d)) // 2 AS mid FROM ev),
        |cell AS (SELECT user_id % 2 = 0 AS treated, d > mid AS post,
        |    CAST(sum(cts) AS BIGINT) AS s, count(*) AS n
        |  FROM ev CROSS JOIN m GROUP BY 1, 2),
        |mm AS (SELECT treated, post, s * 10000 // n AS m_e6, n FROM cell)
        |SELECT
        |  max(CASE WHEN treated AND NOT post THEN m_e6 END) AS t_pre_e6,
        |  max(CASE WHEN treated AND post THEN m_e6 END) AS t_post_e6,
        |  max(CASE WHEN NOT treated AND NOT post THEN m_e6 END) AS c_pre_e6,
        |  max(CASE WHEN NOT treated AND post THEN m_e6 END) AS c_post_e6,
        |  (max(CASE WHEN treated AND post THEN m_e6 END)
        |     - max(CASE WHEN treated AND NOT post THEN m_e6 END))
        |  - (max(CASE WHEN NOT treated AND post THEN m_e6 END)
        |     - max(CASE WHEN NOT treated AND NOT post THEN m_e6 END)) AS did_e6,
        |  CAST(sum(n) AS BIGINT) AS n_purchases
        |FROM mm""".stripMargin,

    // AR(1) replay: daily counts self-joined on d+1, sufficient stats
    // in HUGEINT, truncating e6 slope/intercept, forecast from the
    // truncated coefficients.
    // Newey-West replay: the yule_walker lag-join autocovariances,
    // quarter-cleared Bartlett weights, one exact inflation rational.
    "q_newey_west" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
        |  FROM daily),
        |y AS (SELECT d, n * x - s AS y FROM daily CROSS JOIN g),
        |g0 AS (SELECT sum(CAST(a.y AS HUGEINT) * b.y) AS g0
        |  FROM y a JOIN y b ON b.d = a.d),
        |g1 AS (SELECT sum(CAST(a.y AS HUGEINT) * b.y) AS g1
        |  FROM y a JOIN y b ON b.d = a.d + 1),
        |g2 AS (SELECT sum(CAST(a.y AS HUGEINT) * b.y) AS g2
        |  FROM y a JOIN y b ON b.d = a.d + 2),
        |g3 AS (SELECT sum(CAST(a.y AS HUGEINT) * b.y) AS g3
        |  FROM y a JOIN y b ON b.d = a.d + 3)
        |SELECT n AS n_days,
        |  CAST(g0 // (n * n) AS BIGINT) AS gamma0,
        |  CAST(g1 // (n * n) AS BIGINT) AS gamma1,
        |  CAST(g2 // (n * n) AS BIGINT) AS gamma2,
        |  CAST(g3 // (n * n) AS BIGINT) AS gamma3,
        |  CAST((4 * g0 + 2 * (3 * g1 + 2 * g2 + g3)) * 1000000
        |    // nullif(4 * g0, 0) AS BIGINT) AS nw_inflation_e6
        |FROM g CROSS JOIN g0 CROSS JOIN g1 CROSS JOIN g2 CROSS JOIN g3""".stripMargin,

    // Length-bucket replay: power-of-two caps by bin() bit length,
    // per-bucket exact pad sums vs the global pad-to-max baseline.
    "q_length_buckets" ->
      """WITH d AS (SELECT CAST(len(regexp_extract_all(text,
        |    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n
        |  FROM documents),
        |d2 AS (SELECT n FROM d WHERE n >= 1),
        |mx AS (SELECT max(n) AS nmax FROM d2),
        |c AS (SELECT n, CASE WHEN n = 1 THEN 1
        |    ELSE (CAST(1 AS BIGINT) << length(bin(n - 1))) END AS cap, nmax
        |  FROM d2 CROSS JOIN mx)
        |SELECT cap AS bucket_cap, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS total_tokens,
        |  CAST(sum(cap - n) AS BIGINT) AS pad_tokens,
        |  CAST(sum(cap - n) * 1000000 // (sum(n) + sum(cap - n)) AS BIGINT)
        |    AS pad_share_e6,
        |  CAST(sum(nmax - n) AS BIGINT) AS global_pad_tokens,
        |  CAST(1000000 - sum(cap - n) * 1000000
        |    // nullif(sum(nmax - n), 0) AS BIGINT) AS pad_saved_vs_global_e6
        |FROM c GROUP BY cap ORDER BY cap""".stripMargin,

    // Team-draft replay: the two top-10 shortlists, a 20-step
    // recursive draft (fewer-picks team drafts its best unpicked doc,
    // A on ties, exhausted team cedes), synthetic clicks credited.
    "q_team_draft" ->
      """WITH RECURSIVE d AS (SELECT doc_id, n_chars,
        |    CAST(len(regexp_extract_all(text,
        |      '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS tokn
        |  FROM documents),
        |la AS (SELECT (list(doc_id ORDER BY n_chars DESC, doc_id))[1:10] AS a
        |  FROM d),
        |lb AS (SELECT (list(doc_id ORDER BY tokn DESC, doc_id))[1:10] AS b
        |  FROM d),
        |ab AS (SELECT a, b FROM la CROSS JOIN lb),
        |draft AS (
        |  SELECT 0 AS step, CAST([] AS BIGINT[]) AS picked,
        |    CAST([] AS BIGINT[]) AS ca, CAST([] AS BIGINT[]) AS cb, a, b
        |  FROM ab
        |  UNION ALL
        |  SELECT step,
        |    CASE WHEN conda THEN list_append(picked, pa)
        |         WHEN pb IS NOT NULL THEN list_append(picked, pb)
        |         WHEN pa IS NOT NULL THEN list_append(picked, pa)
        |         ELSE picked END,
        |    CASE WHEN conda THEN list_append(ca, pa)
        |         WHEN pb IS NOT NULL THEN ca
        |         WHEN pa IS NOT NULL THEN list_append(ca, pa)
        |         ELSE ca END,
        |    CASE WHEN conda THEN cb
        |         WHEN pb IS NOT NULL THEN list_append(cb, pb)
        |         ELSE cb END,
        |    a, b
        |  FROM (SELECT step + 1 AS step, picked, ca, cb, a, b,
        |      list_filter(a, x -> NOT list_contains(picked, x))[1] AS pa,
        |      list_filter(b, x -> NOT list_contains(picked, x))[1] AS pb,
        |      len(ca) <= len(cb)
        |        AND len(list_filter(a, x -> NOT list_contains(picked, x))) > 0
        |        AS conda
        |    FROM draft WHERE step < 20) s)
        |SELECT CAST(len(picked) AS BIGINT) AS n_interleaved,
        |  CAST(len(list_filter(picked[1:10],
        |    x -> list_contains(ca, x) AND x % 7 < 2)) AS BIGINT) AS clicks_a,
        |  CAST(len(list_filter(picked[1:10],
        |    x -> list_contains(cb, x) AND x % 7 < 2)) AS BIGINT) AS clicks_b,
        |  CAST(len(list_intersect(a, b)) AS BIGINT) AS overlap_top10,
        |  CASE WHEN len(list_filter(picked[1:10],
        |      x -> list_contains(ca, x) AND x % 7 < 2))
        |    > len(list_filter(picked[1:10],
        |      x -> list_contains(cb, x) AND x % 7 < 2)) THEN 'A'
        |  WHEN len(list_filter(picked[1:10],
        |      x -> list_contains(cb, x) AND x % 7 < 2))
        |    > len(list_filter(picked[1:10],
        |      x -> list_contains(ca, x) AND x % 7 < 2)) THEN 'B'
        |  ELSE 'tie' END AS preferred
        |FROM draft WHERE step = 20""".stripMargin,

    // Chow replay: pooled/per-half sufficient stats in HUGEINT, each
    // SSE floored once to e3 over matched descaled inputs, exact F.
    "q_chow_test" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |span AS (SELECT min(d) AS d0, (max(d) - min(d)) // 2 AS mid FROM daily),
        |h AS (SELECT d - d0 AS t, y, d - d0 <= mid AS h1
        |  FROM daily CROSS JOIN span),
        |st AS (SELECT tag, n, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den,
        |    n*syy - sy*sy AS tss FROM (
        |  SELECT tag, CAST(count(*) AS HUGEINT) AS n,
        |      CAST(sum(t) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |      CAST(sum(t*t) AS HUGEINT) AS sxx,
        |      sum(CAST(t AS HUGEINT) * y) AS sxy,
        |      sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM (SELECT t, y, 'p' AS tag FROM h
        |        UNION ALL SELECT t, y, 'a' FROM h WHERE h1
        |        UNION ALL SELECT t, y, 'b' FROM h WHERE NOT h1)
        |  GROUP BY tag)),
        |sse AS (SELECT tag, n,
        |    (tss * den - num * num) * 1000 // nullif(den * n * n, 0) AS sse_e3
        |  FROM st)
        |SELECT CAST(p.n AS BIGINT) AS n_days,
        |  CAST(p.sse_e3 AS BIGINT) AS sse_pooled_e3,
        |  CAST(a.sse_e3 AS BIGINT) AS sse_first_e3,
        |  CAST(b.sse_e3 AS BIGINT) AS sse_second_e3,
        |  CAST((p.sse_e3 - a.sse_e3 - b.sse_e3) * (p.n - 4) * 1000000
        |    // nullif((a.sse_e3 + b.sse_e3) * 2, 0) AS BIGINT) AS chow_f_e6
        |FROM (SELECT * FROM sse WHERE tag = 'p') p
        |CROSS JOIN (SELECT * FROM sse WHERE tag = 'a') a
        |CROSS JOIN (SELECT * FROM sse WHERE tag = 'b') b""".stripMargin,

    // Breusch-Pagan replay: exact residual integers u_t, v = (u//den)²
    // squared residuals, exact aux R², LM = n·R² at e6.
    "q_breusch_pagan" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |d0 AS (SELECT min(d) AS d0 FROM daily),
        |ty AS (SELECT d - d0 AS t, y FROM daily CROSS JOIN d0),
        |s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(t) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(t*t) AS HUGEINT) AS sxx,
        |    sum(CAST(t AS HUGEINT) * y) AS sxy,
        |    sum(CAST(y AS HUGEINT) * y) AS syy FROM ty),
        |st AS (SELECT n, sx, sy, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den
        |  FROM s),
        |v AS (SELECT CAST(t AS HUGEINT) AS t,
        |    ((n*den*y - (sy*den - num*sx) - n*num*t) // den)
        |      * ((n*den*y - (sy*den - num*sx) - n*num*t) // den) AS v
        |  FROM ty CROSS JOIN st),
        |aux AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    sum(t) AS sx, sum(v) AS sv, sum(t*t) AS sxx,
        |    sum(t*v) AS sxv, sum(v*v) AS svv FROM v),
        |a2 AS (SELECT n, n*sxv - sx*sv AS num2, n*sxx - sx*sx AS den2,
        |    n*svv - sv*sv AS tss2 FROM aux),
        |r AS (SELECT CAST(n AS BIGINT) AS n_days,
        |    CAST(num2 * num2 * 1000000
        |      // nullif(den2 * tss2, 0) AS BIGINT) AS r2_aux_e6
        |  FROM a2)
        |SELECT n_days, r2_aux_e6, n_days * r2_aux_e6 AS lm_e6,
        |  n_days * r2_aux_e6 > 3841459 AS heteroscedastic_5pct
        |FROM r""".stripMargin,

    // Cook's-distance replay: exact residual/leverage integers, the
    // one-floor rational D_t, top-10 by (D desc, day asc).
    "q_cooks_distance" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |d0 AS (SELECT min(d) AS d0 FROM daily),
        |ty AS (SELECT d - d0 AS t, y FROM daily CROSS JOIN d0),
        |s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(t) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(t*t) AS HUGEINT) AS sxx,
        |    sum(CAST(t AS HUGEINT) * y) AS sxy,
        |    sum(CAST(y AS HUGEINT) * y) AS syy FROM ty),
        |st AS (SELECT n, sx, sy, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den,
        |    n*syy - sy*sy AS tss FROM s),
        |cells AS (SELECT t, y,
        |    n*den*y - (sy*den - num*sx) - n*num*t AS u,
        |    den + (n*t - sx) * (n*t - sx) AS h,
        |    n*den AS tt, tss*den - num*num AS ss, n
        |  FROM ty CROSS JOIN st)
        |SELECT CAST(t AS BIGINT) AS day_idx, y AS volume,
        |  CAST(u * u * h * (n - 2) * 1000000
        |    // nullif(2 * ss * (tt - h) * (tt - h), 0) AS BIGINT)
        |    AS cooks_d_e6,
        |  CAST(h * 1000000 // tt AS BIGINT) AS leverage_e6
        |FROM cells ORDER BY cooks_d_e6 DESC, day_idx LIMIT 10""".stripMargin,

    "q_ar1" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    count(*) AS x
        |  FROM events GROUP BY 1),
        |p AS (SELECT CAST(a.x AS HUGEINT) AS x, CAST(b.x AS HUGEINT) AS y
        |  FROM daily a JOIN daily b ON a.d + 1 = b.d),
        |s AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx FROM p),
        |lst AS (SELECT arg_max(x, d) AS x_last FROM daily),
        |co AS (SELECT n, sx, sy, x_last,
        |    CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS BIGINT) AS phi_e6
        |  FROM s CROSS JOIN lst)
        |SELECT CAST(n AS BIGINT) AS n_pairs, phi_e6,
        |  CAST((sy * 1000000 - CAST(phi_e6 AS HUGEINT) * sx) // n AS BIGINT) AS intercept_e6,
        |  x_last,
        |  CAST((sy * 1000000 - CAST(phi_e6 AS HUGEINT) * sx) // n AS BIGINT)
        |    + phi_e6 * x_last AS forecast_e6
        |FROM co""".stripMargin,

    // Welch t-square replay: per-group sufficient stats in HUGEINT,
    // staged truncating divisions (v/n at e6, mean gap at e3, t2 at e6).
    "q_welch_ttest" ->
      """WITH ev AS (SELECT user_id % 2 AS g,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cts
        |  FROM events WHERE event_type = 'purchase'),
        |per AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(cts AS HUGEINT)) AS s, sum(CAST(cts AS HUGEINT) * cts) AS ssq
        |  FROM ev GROUP BY g),
        |v AS (SELECT g, n, s,
        |    (1000000 * (n * ssq - s * s)) // (n * n * (n - 1)) AS vn_e6,
        |    s * 10000 // n AS m_e6 FROM per),
        |piv AS (SELECT
        |    max(CASE WHEN g = 0 THEN n END) AS n0, max(CASE WHEN g = 1 THEN n END) AS n1,
        |    max(CASE WHEN g = 0 THEN s END) AS s0, max(CASE WHEN g = 1 THEN s END) AS s1,
        |    max(CASE WHEN g = 0 THEN vn_e6 END) AS vn0,
        |    max(CASE WHEN g = 1 THEN vn_e6 END) AS vn1,
        |    max(CASE WHEN g = 0 THEN m_e6 END) AS m0,
        |    max(CASE WHEN g = 1 THEN m_e6 END) AS m1
        |  FROM v),
        |d AS (SELECT *, 1000 * (s0 * n1 - s1 * n0) // (n0 * n1) AS diff_e3 FROM piv)
        |SELECT CAST(n0 AS BIGINT) AS n_even, CAST(n1 AS BIGINT) AS n_odd,
        |  CAST(m0 AS BIGINT) AS m_even_e6, CAST(m1 AS BIGINT) AS m_odd_e6,
        |  CAST(diff_e3 AS BIGINT) AS diff_e3,
        |  CAST(1000000 * diff_e3 * diff_e3 // nullif(vn0 + vn1, 0) AS BIGINT) AS t2_e6
        |FROM d""".stripMargin,

    // Permutation-test replay: 200 portable-hash pseudo-splits of the
    // per-user spend table, |mean gap| per round at e3, +1-smoothed p
    // at e6. The round label is the md5-fold hash of "user_id:r" mod
    // 2, NOT an LCG low bit (which degenerates to (u + r) mod 2).
    "q_permutation_test" ->
      s"""WITH u AS (SELECT user_id,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cts
        |  FROM events GROUP BY user_id),
        |o1 AS (SELECT
        |    sum(CASE WHEN user_id % 2 = 0 THEN CAST(cts AS HUGEINT) END) AS sA,
        |    sum(CASE WHEN user_id % 2 = 1 THEN CAST(cts AS HUGEINT) END) AS sB,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS nA,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS nB
        |  FROM u),
        |obs AS (SELECT abs(1000 * (sA * nB - sB * nA) // (nA * nB)) AS obs_e3 FROM o1),
        |spine AS (SELECT unnest(range(1, 201)) AS r),
        |pg AS (SELECT r, ${hSql("user_id || ':' || r")} % 2 AS g, cts
        |  FROM u CROSS JOIN spine),
        |ps AS (SELECT r,
        |    sum(CASE WHEN g = 0 THEN CAST(cts AS HUGEINT) END) AS sA,
        |    sum(CASE WHEN g = 1 THEN CAST(cts AS HUGEINT) END) AS sB,
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS nA,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS nB
        |  FROM pg GROUP BY r),
        |pd AS (SELECT r, abs(1000 * (sA * nB - sB * nA) // (nA * nB)) AS d_e3 FROM ps)
        |SELECT CAST(obs_e3 AS BIGINT) AS obs_e3,
        |  CAST(sum(CASE WHEN d_e3 >= obs_e3 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
        |  CAST(1000000 * (1 + sum(CASE WHEN d_e3 >= obs_e3 THEN 1 ELSE 0 END)) // 201
        |    AS BIGINT) AS p_e6,
        |  CAST(200 AS BIGINT) AS n_perm
        |FROM pd CROSS JOIN obs GROUP BY obs_e3""".stripMargin,

    // Log-rank replay: per-user lifetimes, (time, group) support walk
    // for at-risk counts, truncating e6 hypergeometric E and V terms,
    // chi-square from the exact integer O/E/V readout.
    "q_logrank" ->
      """WITH u AS (SELECT user_id,
        |    min(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS f,
        |    max(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS l
        |  FROM events GROUP BY user_id),
        |md AS (SELECT max(l) AS maxd FROM u),
        |per AS (SELECT user_id % 2 AS g, l - f AS t, l >= maxd - 2 AS cens
        |  FROM u CROSS JOIN md),
        |sup AS (SELECT t,
        |    sum(CASE WHEN g = 0 AND NOT cens THEN 1 ELSE 0 END) AS d1,
        |    sum(CASE WHEN g = 0 AND cens THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN g = 1 AND NOT cens THEN 1 ELSE 0 END) AS d2,
        |    sum(CASE WHEN g = 1 AND cens THEN 1 ELSE 0 END) AS c2
        |  FROM per GROUP BY t),
        |wk AS (SELECT t, d1, d2,
        |    coalesce(sum(d1 + c1) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl1,
        |    coalesce(sum(d2 + c2) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl2
        |  FROM sup),
        |tot AS (SELECT sum(d1 + c1) AS t1, sum(d2 + c2) AS t2 FROM sup),
        |terms AS (SELECT d1, d2, d1 + d2 AS dd,
        |    t1 - cl1 AS n1, t2 - cl2 AS n2, t1 - cl1 + t2 - cl2 AS n
        |  FROM wk CROSS JOIN tot WHERE d1 + d2 > 0),
        |agg AS (SELECT
        |    CAST(sum(d1) AS BIGINT) AS o1, CAST(sum(d2) AS BIGINT) AS o2,
        |    CAST(sum((1000000 * CAST(dd AS HUGEINT) * n1) // n) AS BIGINT) AS e1_e6,
        |    CAST(sum((1000000 * CAST(dd AS HUGEINT) * n2) // n) AS BIGINT) AS e2_e6,
        |    CAST(sum(CASE WHEN n > 1 THEN
        |        (1000000 * CAST(dd AS HUGEINT) * n1 * n2 * (n - dd))
        |        // (CAST(n AS HUGEINT) * n * (n - 1))
        |      ELSE 0 END) AS BIGINT) AS v_e6
        |  FROM terms)
        |SELECT o1, o2, e1_e6, e2_e6, v_e6,
        |  CAST((CAST(o1 AS HUGEINT) * 1000000 - e1_e6)
        |     * (CAST(o1 AS HUGEINT) * 1000000 - e1_e6)
        |     // nullif(v_e6, 0) AS BIGINT) AS chi2_e6
        |FROM agg""".stripMargin,

    // KMV replay: distinct (source, hash) via the portable md5 fold,
    // bottom-64 per source, merged-sketch union/Jaccard estimates next
    // to the exact vocab-join numbers.
    "q_kmv_overlap" ->
      s"""WITH tok AS (SELECT source,
         |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
         |  FROM documents),
         |voc AS (SELECT DISTINCT source, w FROM tok),
         |hx AS (SELECT DISTINCT source, ${hSql("w")} AS h FROM voc),
         |rk AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hx),
         |s64 AS (SELECT source, list(h ORDER BY h) AS sk
         |  FROM rk WHERE rn <= 64 GROUP BY source),
         |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
         |    a.sk AS ska, b.sk AS skb
         |  FROM s64 a JOIN s64 b ON a.source < b.source),
         |m AS (SELECT source_a, source_b, ska, skb,
         |    list_slice(list_sort(list_distinct(list_concat(ska, skb))), 1, 64) AS mg
         |  FROM pairs),
         |est AS (SELECT source_a, source_b,
         |    CAST(len(mg) AS BIGINT) AS m, mg[len(mg)] AS uk,
         |    CAST(len(list_filter(mg,
         |      x -> list_contains(ska, x) AND list_contains(skb, x))) AS BIGINT) AS n_both
         |  FROM m),
         |ix AS (SELECT x.source AS source_a, y.source AS source_b,
         |    count(*) AS inter
         |  FROM voc x JOIN voc y ON x.w = y.w AND x.source < y.source
         |  GROUP BY 1, 2),
         |sz AS (SELECT source, count(*) AS nv FROM voc GROUP BY source)
         |SELECT est.source_a, est.source_b,
         |  CAST(1000000 * n_both // m AS BIGINT) AS jacc_est_e6,
         |  CAST(1000000 * coalesce(inter, 0)
         |    // (na.nv + nb.nv - coalesce(inter, 0)) AS BIGINT) AS jacc_exact_e6,
         |  CAST(CASE WHEN m < 64 THEN m ELSE 63 * 281474976710656 // uk END
         |    AS BIGINT) AS union_est,
         |  CAST(na.nv + nb.nv - coalesce(inter, 0) AS BIGINT) AS union_exact
         |FROM est
         |LEFT JOIN ix ON ix.source_a = est.source_a AND ix.source_b = est.source_b
         |JOIN sz na ON na.source = est.source_a
         |JOIN sz nb ON nb.source = est.source_b
         |ORDER BY 1, 2""".stripMargin,

    // Brandes replay: 8-round per-root BFS distances (fixguarded like
    // q_harmonic_centrality), per-level sigma path counts, backward
    // delta sweep with the same truncating e6 per-edge division, summed
    // per node, TakeOrdered top-20.
    "q_betweenness" -> {
      def sIter(i: Int): String =
        s"""sg$i AS MATERIALIZED (SELECT p.root, e.dst AS node, sum(p.sigma) AS sigma
           |  FROM bu e JOIN sg${i - 1} p ON e.src = p.node
           |  JOIN hd8 x ON x.root = p.root AND x.node = e.dst
           |  WHERE x.d = $i GROUP BY 1, 2)""".stripMargin
      def bIter(i: Int): String =
        s"""dt$i AS (SELECT v.root, v.node,
           |    sum((v.sigma * (1000000 + d.delta)) // w.sigma) AS delta
           |  FROM sg$i v JOIN bu e ON e.src = v.node
           |  JOIN sg${i + 1} w ON w.root = v.root AND w.node = e.dst
           |  JOIN dl${i + 1} d ON d.root = v.root AND d.node = e.dst
           |  GROUP BY 1, 2),
           |dl$i AS MATERIALIZED (SELECT v.root, v.node,
           |    coalesce(t.delta, CAST(0 AS HUGEINT)) AS delta
           |  FROM sg$i v LEFT JOIN dt$i t ON t.root = v.root AND t.node = v.node)""".stripMargin
      s"""WITH $partEdgeCtes,
         |$partRootBfsCtes,
         |sg0 AS (SELECT node AS root, node, CAST(1 AS HUGEINT) AS sigma FROM roots),
         |${(1 to 8).map(sIter).mkString(",\n")},
         |dl8 AS MATERIALIZED (SELECT root, node, CAST(0 AS HUGEINT) AS delta FROM sg8),
         |${(7 to 1 by -1).map(bIter).mkString(",\n")},
         |allD AS (${(1 to 8).map(i => s"SELECT * FROM dl$i").mkString(" UNION ALL ")}),
         |bc AS (SELECT node, sum(delta) AS bc FROM allD GROUP BY node)
         |SELECT node, CAST(CASE WHEN at_fixpoint = 1 THEN bc ELSE error(
         |    'q_betweenness oracle: hd8 <> hd7, unroll depth insufficient - add rounds')
         |  END AS BIGINT) AS bc_e6
         |FROM bc CROSS JOIN fixguard
         |ORDER BY bc_e6 DESC, node LIMIT 20""".stripMargin
    },

    // pHash replay: regenerate the 64 strided byte-sum cells from the
    // media-id formula, exact cross-multiplied mean bits into two
    // 32-bit half-words, byte-band candidates, bit_count(xor) verify.
    "q_phash_dedup" ->
      """WITH m AS (SELECT r.range AS id, 256 + r.range % 512 AS filler_len
        |  FROM range(0, 2000) r WHERE r.range % 3 = 0),
        |pos AS (SELECT p.range AS i FROM range(0, 768) p),
        |byc AS (SELECT m.id, i % 64 AS c,
        |    sum((m.id * 31 + i * 7) % 256) AS s, count(*) AS n
        |  FROM m CROSS JOIN pos WHERE i < m.filler_len GROUP BY 1, 2),
        |tot AS (SELECT id, sum(s) AS ts, sum(n) AS tn FROM byc GROUP BY id),
        |bits AS (SELECT byc.id, c,
        |    CASE WHEN s * tn > ts * n THEN 1 ELSE 0 END AS bit
        |  FROM byc JOIN tot USING (id)),
        |sig AS MATERIALIZED (SELECT id,
        |    CAST(sum(CASE WHEN c < 32 THEN bit * (CAST(1 AS BIGINT) << c)
        |             ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN c >= 32 THEN bit * (CAST(1 AS BIGINT) << (c - 32))
        |             ELSE 0 END) AS BIGINT) AS hi
        |  FROM bits GROUP BY id),
        |bd AS (SELECT s.id, b.range AS b,
        |    CASE WHEN b.range < 4 THEN (lo >> CAST(8 * b.range AS INTEGER)) % 256
        |         ELSE (hi >> CAST(8 * (b.range - 4) AS INTEGER)) % 256 END AS v
        |  FROM sig s CROSS JOIN range(0, 8) b),
        |cand AS (SELECT DISTINCT x.id AS media_a, y.id AS media_b
        |  FROM bd x JOIN bd y ON x.b = y.b AND x.v = y.v AND x.id < y.id),
        |ham AS (SELECT media_a, media_b,
        |    CAST(bit_count(xor(sa.lo, sb.lo)) + bit_count(xor(sa.hi, sb.hi))
        |      AS BIGINT) AS hamming
        |  FROM cand JOIN sig sa ON sa.id = media_a JOIN sig sb ON sb.id = media_b)
        |SELECT media_a, media_b, hamming FROM ham
        |WHERE hamming <= 6 ORDER BY media_a, media_b""".stripMargin,

    // Span-corruption replay: position-indexed tokens via the
    // range-ordinality trick, (doc, group) hash masking, sentinel ranks
    // by window, ordered string_agg rebuilds of input/target.
    "q_span_corrupt" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |tok AS (SELECT doc_id, u.i - 1 AS pos, w[u.i] AS tok,
         |    (u.i - 1) // 3 AS g
         |  FROM t, unnest(range(1, len(w) + 1)) AS u(i)),
         |grp AS (SELECT DISTINCT doc_id, g FROM tok),
         |mg AS (SELECT doc_id, g,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY g) - 1 AS k
         |  FROM grp
         |  WHERE (${hSql("CAST(doc_id AS VARCHAR) || ':' || CAST(g AS VARCHAR)")}) % 7 = 0),
         |inp_rows AS (
         |  SELECT t2.doc_id, t2.pos, t2.tok
         |  FROM tok t2 LEFT JOIN mg ON mg.doc_id = t2.doc_id AND mg.g = t2.g
         |  WHERE mg.g IS NULL
         |  UNION ALL
         |  SELECT doc_id, g * 3 AS pos,
         |    '<extra_id_' || CAST(k AS VARCHAR) || '>' AS tok FROM mg),
         |inp AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS input_text
         |  FROM inp_rows GROUP BY doc_id),
         |tgt_rows AS (
         |  SELECT doc_id, g, -1 AS p2,
         |    '<extra_id_' || CAST(k AS VARCHAR) || '>' AS tok FROM mg
         |  UNION ALL
         |  SELECT t2.doc_id, t2.g, t2.pos AS p2, t2.tok
         |  FROM tok t2 JOIN mg ON mg.doc_id = t2.doc_id AND mg.g = t2.g),
         |tgt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY g, p2) AS target_text
         |  FROM tgt_rows GROUP BY doc_id),
         |st AS (SELECT t2.doc_id, count(*) AS n_tokens,
         |    sum(CASE WHEN mg.g IS NOT NULL THEN 1 ELSE 0 END) AS n_masked
         |  FROM tok t2 LEFT JOIN mg ON mg.doc_id = t2.doc_id AND mg.g = t2.g
         |  GROUP BY 1)
         |SELECT st.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_masked AS BIGINT) AS n_masked, input_text,
         |  coalesce(target_text, '') AS target_text
         |FROM st JOIN inp USING (doc_id) LEFT JOIN tgt USING (doc_id)
         |ORDER BY st.doc_id""".stripMargin,

    // Cochran's Q replay: distinct (user, week<4) purchase flags,
    // row/column totals, the k2-multiplied integer Q at e6.
    "q_cochran_q" ->
      """WITH ev AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d, event_type
        |  FROM events),
        |d0 AS (SELECT min(d) AS d0 FROM ev),
        |pw AS (SELECT DISTINCT user_id, (d - d0) // 7 AS w
        |  FROM ev CROSS JOIN d0
        |  WHERE event_type = 'purchase' AND (d - d0) // 7 < 4),
        |rs AS (SELECT CAST(sum(r) AS BIGINT) AS t, CAST(sum(r * r) AS BIGINT) AS sr2
        |  FROM (SELECT user_id, count(*) AS r FROM pw GROUP BY user_id)),
        |cw AS (SELECT w, count(*) AS c FROM pw GROUP BY w)
        |SELECT t, sr2,
        |  max(CASE WHEN w = 0 THEN c END) AS c0,
        |  max(CASE WHEN w = 1 THEN c END) AS c1,
        |  max(CASE WHEN w = 2 THEN c END) AS c2,
        |  max(CASE WHEN w = 3 THEN c END) AS c3,
        |  CAST(1000000 * 3 * sum(CAST(4 * c - t AS HUGEINT) * (4 * c - t))
        |    // nullif(CAST(4 AS HUGEINT) * (4 * t - sr2), 0) AS BIGINT) AS q_e6
        |FROM cw CROSS JOIN rs GROUP BY t, sr2""".stripMargin,

    // CMH replay: per-user cohort stratum + conversion flag, 4-row
    // stratum support, truncating e6 hypergeometric E/V, chi-square.
    "q_cmh" ->
      """WITH ev AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    event_type, value
        |  FROM events),
        |d0 AS (SELECT min(d) AS d0 FROM ev),
        |per AS (SELECT user_id, least(min(d - d0) // 7, 3) AS s,
        |    max(CASE WHEN event_type = 'purchase' AND value >= 200
        |        THEN 1 ELSE 0 END) AS conv,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS trt
        |  FROM ev CROSS JOIN d0 GROUP BY user_id),
        |st AS (SELECT s,
        |    sum(CASE WHEN trt = 1 AND conv = 1 THEN 1 ELSE 0 END) AS a,
        |    sum(CASE WHEN trt = 1 THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN trt = 0 THEN 1 ELSE 0 END) AS n0,
        |    sum(conv) AS m1
        |  FROM per GROUP BY s),
        |st2 AS (SELECT s, a, n1, n0, m1, n1 + n0 AS n, n1 + n0 - m1 AS m0 FROM st),
        |agg AS (SELECT CAST(sum(a) AS BIGINT) AS sum_a,
        |    CAST(sum((1000000 * CAST(n1 AS HUGEINT) * m1) // n) AS BIGINT) AS e_e6,
        |    CAST(sum(CASE WHEN n > 1 THEN
        |        (1000000 * CAST(n1 AS HUGEINT) * n0 * m1 * m0)
        |        // (CAST(n AS HUGEINT) * n * (n - 1))
        |      ELSE 0 END) AS BIGINT) AS v_e6
        |  FROM st2)
        |SELECT sum_a, e_e6, v_e6,
        |  CAST((CAST(sum_a AS HUGEINT) * 1000000 - e_e6)
        |     * (CAST(sum_a AS HUGEINT) * 1000000 - e_e6)
        |     // nullif(v_e6, 0) AS BIGINT) AS chi2_e6
        |FROM agg""".stripMargin,

    // Shapley replay: per-user touch masks, 16-subset value table,
    // factorial weights as truncated e6 literals, marginal sums.
    "q_shapley" ->
      """WITH per AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hc,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
        |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS hs,
        |    max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS he,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |sup AS (SELECT hc + 2 * hv + 4 * hs + 8 * he AS mask, count(*) AS cnt
        |  FROM per WHERE conv = 1 GROUP BY 1),
        |ss AS (SELECT s.range AS s FROM range(0, 16) s),
        |v AS (SELECT s,
        |    CAST(sum(CASE WHEN (mask & s) <> 0 THEN cnt ELSE 0 END) AS BIGINT) AS v
        |  FROM ss CROSS JOIN sup GROUP BY s),
        |ch AS (SELECT c.range AS c,
        |    CAST(1 AS BIGINT) << CAST(c.range AS INTEGER) AS cbit FROM range(0, 4) c),
        |t AS (SELECT ch.c, v1.s, v1.v AS v0, v2.v AS vw,
        |    CASE bit_count(v1.s) WHEN 0 THEN 250000 WHEN 1 THEN 83333
        |      WHEN 2 THEN 83333 ELSE 250000 END AS w_e6
        |  FROM ch JOIN v v1 ON (v1.s & ch.cbit) = 0
        |  JOIN v v2 ON v2.s = v1.s + ch.cbit),
        |phi AS (SELECT c, CAST(sum(w_e6 * (vw - v0)) AS BIGINT) AS phi_e6
        |  FROM t GROUP BY c),
        |vf AS (SELECT v AS v_full FROM v WHERE s = 15)
        |SELECT CASE c WHEN 0 THEN 'click' WHEN 1 THEN 'view'
        |    WHEN 2 THEN 'signup' ELSE 'error' END AS channel,
        |  phi_e6, v_full
        |FROM phi CROSS JOIN vf ORDER BY channel""".stripMargin,

    // SAX replay: 4-day PAA sums, dyadic-exact 4*quantile breakpoints,
    // symbol CASE, 3-symbol words by seg+1/seg+2 joins.
    "q_sax" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    count(*) AS x
        |  FROM events GROUP BY 1),
        |d0 AS (SELECT min(d) AS d0 FROM daily),
        |paa AS (SELECT (d - d0) // 4 AS seg, sum(x) AS p, count(*) AS nd
        |  FROM daily CROSS JOIN d0 GROUP BY 1),
        |p4 AS (SELECT seg, p FROM paa WHERE nd = 4),
        |qs AS (SELECT CAST(4 * quantile_cont(p, 0.25) AS BIGINT) AS q25_4,
        |    CAST(4 * quantile_cont(p, 0.5) AS BIGINT) AS q50_4,
        |    CAST(4 * quantile_cont(p, 0.75) AS BIGINT) AS q75_4 FROM p4),
        |sym AS (SELECT seg,
        |    CASE WHEN 4 * p <= q25_4 THEN 'a' WHEN 4 * p <= q50_4 THEN 'b'
        |         WHEN 4 * p <= q75_4 THEN 'c' ELSE 'd' END AS sym
        |  FROM p4 CROSS JOIN qs)
        |SELECT s1.sym || s2.sym || s3.sym AS word, count(*) AS cnt
        |FROM sym s1 JOIN sym s2 ON s2.seg = s1.seg + 1
        |JOIN sym s3 ON s3.seg = s1.seg + 2
        |GROUP BY 1 ORDER BY word""".stripMargin,

    // DTW replay: the SAME 49-cell chain Queries.dtwCells generates for
    // the Spark side, re-rowed into MATERIALIZED per-row CTEs (the
    // rouge_l device — the single-select lateral form planned ~14 s).
    "q_dtw" -> {
      val rows = dpRowCtes(Queries.dtwCells(i => s"a[$i]", j => s"b[$j]"),
        7, 7, "week_a, week_b, a, b", "pairs", "dp")
      s"""WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
         |    count(*) AS x
         |  FROM events GROUP BY 1),
         |d0 AS (SELECT min(d) AS d0 FROM daily),
         |wk AS (SELECT (d - d0) // 7 AS w, list(x ORDER BY (d - d0) % 7) AS arr,
         |    count(*) AS nd
         |  FROM daily CROSS JOIN d0 GROUP BY 1),
         |w7 AS (SELECT w, arr FROM wk WHERE nd = 7),
         |pairs AS (SELECT p.w AS week_a, q.w AS week_b, p.arr AS a, q.arr AS b
         |  FROM w7 p JOIN w7 q ON q.w > p.w),
         |$rows
         |SELECT week_a, week_b, CAST(ca7 AS BIGINT) AS dtw
         |FROM dp7 ORDER BY week_a, week_b""".stripMargin
    },

    // Heavy-change replay: per-token conditional counts across the
    // doc-parity halves, |delta| TakeOrdered top-20.
    "q_heavy_change" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT tok,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_even,
        |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_odd
        |  FROM tok GROUP BY tok)
        |SELECT tok, c_even, c_odd, abs(c_even - c_odd) AS delta
        |FROM c ORDER BY delta DESC, tok LIMIT 20""".stripMargin,

    // l-diversity replay: per-(day, event_type) distinct spend buckets,
    // per-type minima and sub-3 exposure counts.
    "q_ldiversity" ->
      """WITH ev AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    event_type, CAST(floor(value) AS BIGINT) // 100 AS sv
        |  FROM events),
        |pg AS (SELECT d, event_type, count(*) AS n_rows,
        |    count(DISTINCT sv) AS l
        |  FROM ev GROUP BY 1, 2)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(min(l) AS BIGINT) AS min_l,
        |  CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_3,
        |  CAST(sum(CASE WHEN l < 3 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_exposed,
        |  sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) = 0 AS l_satisfied
        |FROM pg GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Changepoint replay: prefix-sum walk, truncating e6 SSE terms in
    // HUGEINT, gain argmax TakeOrdered top-3.
    "q_changepoint" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    count(*) AS x
        |  FROM events GROUP BY 1),
        |wk AS (SELECT d,
        |    row_number() OVER (ORDER BY d) AS rn,
        |    sum(CAST(x AS HUGEINT)) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
        |    sum(CAST(x AS HUGEINT) * x) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS css
        |  FROM daily),
        |tot AS (SELECT CAST(count(*) AS HUGEINT) AS nn,
        |    sum(CAST(x AS HUGEINT)) AS s, sum(CAST(x AS HUGEINT) * x) AS ss
        |  FROM daily),
        |g AS (SELECT d,
        |    (ss * 1000000 - (s * s * 1000000) // nn)
        |    - ((css * 1000000 - (cs * cs * 1000000) // rn)
        |       + ((ss - css) * 1000000
        |          - ((s - cs) * (s - cs) * 1000000) // (nn - rn))) AS gain,
        |    (cs * 1000000) // rn AS lm, ((s - cs) * 1000000) // (nn - rn) AS rm
        |  FROM wk CROSS JOIN tot WHERE rn < nn)
        |SELECT d AS split_day, CAST(gain AS BIGINT) AS gain_e6,
        |  CAST(lm AS BIGINT) AS left_mean_e6, CAST(rm AS BIGINT) AS right_mean_e6
        |FROM g ORDER BY gain_e6 DESC, split_day LIMIT 3""".stripMargin,

    // LOF replay: three hop-bounded kNN passes on the same 1e6-floored
    // distances (row_number windows per probe set), k-distances,
    // reach-dist sums, truncating e6 lrd and density ratio.
    "q_lof" -> {
      def dist(q: String, c: String): String =
        s"CAST(floor(sqrt(greatest(${dotSql(s"$q.v", s"$q.v")} - 2.0 * ${dotSql(s"$q.v", s"$c.v")} + ${dotSql(s"$c.v", s"$c.v")}, 0.0)) * 1000000.0) AS BIGINT)"
      def hop(i: Int, qSrc: String): String =
        s"""d$i AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    ${dist("q", "c")} AS d_e6
           |  FROM e0 c JOIN ($qSrc) q ON c.vec_id <> q.vec_id),
           |k$i AS MATERIALIZED (SELECT query_id, neighbor_id, d_e6 FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY d_e6, neighbor_id) AS rn FROM d$i)
           |  WHERE rn <= 5)""".stripMargin
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |${hop(0, "SELECT * FROM e0 WHERE vec_id < 50")},
         |${hop(1, "SELECT e0.* FROM e0 JOIN (SELECT DISTINCT neighbor_id AS vec_id FROM k0) o USING (vec_id)")},
         |${hop(2, "SELECT e0.* FROM e0 JOIN (SELECT DISTINCT neighbor_id AS vec_id FROM k1) o USING (vec_id)")},
         |kd AS (SELECT query_id, max(kdist_e6) AS kdist_e6 FROM (
         |    SELECT query_id, max(d_e6) AS kdist_e6 FROM k1 GROUP BY query_id
         |    UNION ALL
         |    SELECT query_id, max(d_e6) AS kdist_e6 FROM k2 GROUP BY query_id)
         |  GROUP BY query_id),
         |lrd1 AS (SELECT k1.query_id,
         |    5000000000000 // nullif(sum(greatest(kd.kdist_e6, k1.d_e6)), 0) AS lrd_e6
         |  FROM k1 JOIN kd ON kd.query_id = k1.neighbor_id GROUP BY k1.query_id),
         |lrdp AS (SELECT k0.query_id,
         |    5000000000000 // nullif(sum(greatest(kd.kdist_e6, k0.d_e6)), 0) AS lrd_e6
         |  FROM k0 JOIN kd ON kd.query_id = k0.neighbor_id GROUP BY k0.query_id),
         |kdp AS (SELECT query_id, max(d_e6) AS kdist_p_e6 FROM k0 GROUP BY query_id),
         |suml AS (SELECT k0.query_id, sum(lrd1.lrd_e6) AS sum_lrd_o
         |  FROM k0 JOIN lrd1 ON lrd1.query_id = k0.neighbor_id GROUP BY k0.query_id)
         |SELECT suml.query_id AS probe_id, kdp.kdist_p_e6,
         |  CAST(lrdp.lrd_e6 AS BIGINT) AS lrd_p_e6,
         |  CAST(1000000 * sum_lrd_o // nullif(5 * lrdp.lrd_e6, 0) AS BIGINT) AS lof_e6
         |FROM suml
         |JOIN lrdp ON lrdp.query_id = suml.query_id
         |JOIN kdp ON kdp.query_id = suml.query_id
         |ORDER BY probe_id""".stripMargin
    },

    // IV/Wald replay: per-user (D, Y), 2-cell sufficient stats in
    // HUGEINT, reduced form / first stage as staged truncating
    // divisions, LATE as their e6 ratio.
    "q_iv_wald" ->
      """WITH p0 AS (SELECT user_id,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ck,
        |    sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS y
        |  FROM events GROUP BY user_id),
        |per AS (SELECT user_id, y,
        |    CASE WHEN ck >= 15 OR (user_id % 3 = 0 AND ck >= 12)
        |      THEN 1 ELSE 0 END AS dtr
        |  FROM p0),
        |g AS (SELECT
        |    CAST(sum(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
        |    CAST(sum(CASE WHEN user_id % 3 <> 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n0,
        |    CAST(sum(CASE WHEN user_id % 3 = 0 THEN dtr END) AS HUGEINT) AS d1,
        |    CAST(sum(CASE WHEN user_id % 3 <> 0 THEN dtr END) AS HUGEINT) AS d0,
        |    CAST(sum(CASE WHEN user_id % 3 = 0 THEN y END) AS HUGEINT) AS y1,
        |    CAST(sum(CASE WHEN user_id % 3 <> 0 THEN y END) AS HUGEINT) AS y0
        |  FROM per),
        |c AS (SELECT n1, n0,
        |    10000 * (y1 * n0 - y0 * n1) // (n1 * n0) AS itt,
        |    1000000 * (d1 * n0 - d0 * n1) // (n1 * n0) AS fs
        |  FROM g)
        |SELECT CAST(n1 AS BIGINT) AS n_encouraged, CAST(n0 AS BIGINT) AS n_control,
        |  CAST(itt AS BIGINT) AS itt_e6, CAST(fs AS BIGINT) AS first_stage_e6,
        |  CAST(itt * 1000000 // nullif(fs, 0) AS BIGINT) AS late_e6
        |FROM c""".stripMargin,

    // IPW replay: activity cells, positivity filter, within-cell
    // treated/control means as e6 integral divisions, cell-size
    // weighted ATE (== Horvitz-Thompson with cell propensities).
    "q_ipw" ->
      """WITH per AS (SELECT user_id, count(*) AS n_ev,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ck,
        |    sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS y
        |  FROM events GROUP BY user_id),
        |cl AS (SELECT least(n_ev // 10, 12) AS cell,
        |    CASE WHEN ck >= 14 THEN 1 ELSE 0 END AS dtr, y FROM per),
        |cells AS (SELECT cell,
        |    CAST(sum(CASE WHEN dtr = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS nt,
        |    CAST(sum(CASE WHEN dtr = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS nc,
        |    CAST(sum(CASE WHEN dtr = 1 THEN y END) AS HUGEINT) AS st,
        |    CAST(sum(CASE WHEN dtr = 0 THEN y END) AS HUGEINT) AS sc
        |  FROM cl GROUP BY cell),
        |m AS (SELECT cell, nt, nc, st * 10000 // nt AS mt, sc * 10000 // nc AS mc
        |  FROM cells WHERE nt > 0 AND nc > 0),
        |o AS (SELECT CAST(sum((mt - mc) * (nt + nc)) // sum(nt + nc) AS BIGINT) AS ate_e6,
        |    CAST(sum(nt + nc) AS BIGINT) AS n_users FROM m)
        |SELECT cell, CAST(nt AS BIGINT) AS n_treated, CAST(nc AS BIGINT) AS n_control,
        |  CAST(mt AS BIGINT) AS mt_e6, CAST(mc AS BIGINT) AS mc_e6, ate_e6, n_users
        |FROM m CROSS JOIN o ORDER BY cell""".stripMargin,

    // Split-conformal replay: even-half segment means, odd-half
    // absolute residuals, k-th smallest via the value-histogram
    // cumulative count, coverage at the chosen q-hat.
    "q_conformal" ->
      """WITH pur AS (SELECT event_id, user_id % 4 AS seg,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cts
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT seg,
        |    CAST(CAST(sum(cts) AS HUGEINT) * 10000 // count(*) AS BIGINT) AS yhat_e6
        |  FROM pur WHERE event_id % 2 = 0 GROUP BY seg),
        |cal AS (SELECT abs(cts * 10000 - yhat_e6) AS r
        |  FROM pur JOIN m USING (seg) WHERE event_id % 2 = 1),
        |hist AS (SELECT r, count(*) AS cnt FROM cal GROUP BY r),
        |cum AS (SELECT r, sum(cnt) OVER (ORDER BY r
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
        |nk AS (SELECT count(*) AS n_cal, (4 * (count(*) + 1) + 4) // 5 AS k FROM cal)
        |SELECT n_cal, k, min(r) AS qhat_e6,
        |  CAST(min(cum) * 1000000 // n_cal AS BIGINT) AS coverage_e6
        |FROM cum CROSS JOIN nk WHERE cum >= k GROUP BY n_cal, k""".stripMargin,

    // Friedman replay: day x type spine zero-fills, doubled midranks
    // via the k x k within-day self-join, rank sums, Q at e6.
    "q_friedman" ->
      """WITH ev AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    event_type FROM events),
        |counts AS (SELECT d, event_type, count(*) AS x FROM ev GROUP BY d, event_type),
        |spine AS (SELECT * FROM (SELECT DISTINCT d FROM ev)
        |  CROSS JOIN (SELECT DISTINCT event_type FROM ev)),
        |f AS (SELECT s.d, s.event_type, coalesce(c.x, 0) AS x
        |  FROM spine s LEFT JOIN counts c ON s.d = c.d AND s.event_type = c.event_type),
        |r2 AS (SELECT a.d, a.event_type,
        |    sum(CASE WHEN b.x < a.x THEN 2 WHEN b.x = a.x THEN 1 ELSE 0 END) + 1 AS r2
        |  FROM f a JOIN f b ON a.d = b.d GROUP BY a.d, a.event_type),
        |sums AS (SELECT event_type, CAST(sum(r2) AS BIGINT) AS r2_sum
        |  FROM r2 GROUP BY event_type),
        |nd AS (SELECT count(DISTINCT d) AS n_days FROM ev),
        |stat AS (SELECT n_days,
        |    CAST(1000000 * 3 * sum(CAST((r2_sum - n_days * 6) AS HUGEINT)
        |        * (r2_sum - n_days * 6)) // (n_days * 5 * 6) AS BIGINT) AS q_e6
        |  FROM sums CROSS JOIN nd GROUP BY n_days)
        |SELECT event_type, r2_sum, n_days, q_e6
        |FROM sums CROSS JOIN stat ORDER BY event_type""".stripMargin,

    // MAP@10 replay: the q_ndcg ranking chain, cumulative relevance
    // over the top-10, precision terms as e6 integral divisions,
    // AP normalized by min(corpus relevant, 10).
    "q_map_at_k" ->
      s"""WITH e0 AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nrm AS (SELECT vec_id, label, ${normSql("v")} AS v FROM e0),
         |sc AS (SELECT q.vec_id AS query_id, q.label AS true_label,
         |         c.vec_id AS neighbor_id, c.label AS n_label, ${dotSql("q.v", "c.v")} AS cos
         |       FROM nrm c JOIN (SELECT * FROM nrm WHERE vec_id < 50) q
         |         ON c.vec_id <> q.vec_id),
         |top AS (SELECT *, CASE WHEN n_label = true_label THEN 1 ELSE 0 END AS rel
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rnk FROM sc)
         |  WHERE rnk <= 10),
         |cr AS (SELECT *, sum(rel) OVER (PARTITION BY query_id ORDER BY rnk
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumrel FROM top),
         |rt AS (SELECT label AS true_label, count(*) AS n_lab FROM e0 GROUP BY label),
         |agg AS (SELECT query_id, true_label, CAST(sum(rel) AS BIGINT) AS n_rel10,
         |    CAST(sum(CASE WHEN rel = 1 THEN cumrel * 1000000 // rnk ELSE 0 END)
         |      AS BIGINT) AS ap_num
         |  FROM cr GROUP BY query_id, true_label)
         |SELECT query_id, n_rel10,
         |  CAST(ap_num // nullif(least(n_lab - 1, 10), 0) AS BIGINT) AS ap_e6
         |FROM agg JOIN rt USING (true_label) ORDER BY query_id""".stripMargin,

    // ROUGE replay: half-length candidates, per-(doc, n) clipped gram
    // matches, precision/recall/F1 as e6 integral divisions.
    "q_rouge" ->
      s"""WITH base AS (SELECT doc_id AS pid, ${wordsSql("lower(text)")} AS ws
         |  FROM documents WHERE doc_id < 300 AND doc_id % 5 = 0),
         |cand AS (SELECT pid, list_slice(ws, 1, greatest(len(ws) // 2, 1)) AS ws FROM base),
         |cg AS (SELECT pid, n, gram, count(*) AS c FROM (
         |    SELECT pid, n, unnest(list_transform(range(len(ws) - n + 1),
         |      i -> array_to_string(list_slice(ws, i + 1, i + n), ' '))) AS gram
         |    FROM cand, (SELECT unnest([1, 2]) AS n) nn
         |    WHERE len(ws) >= n) g GROUP BY pid, n, gram),
         |rg AS (SELECT pid, n, gram, count(*) AS cr FROM (
         |    SELECT pid, n, unnest(list_transform(range(len(ws) - n + 1),
         |      i -> array_to_string(list_slice(ws, i + 1, i + n), ' '))) AS gram
         |    FROM base, (SELECT unnest([1, 2]) AS n) nn
         |    WHERE len(ws) >= n) g GROUP BY pid, n, gram),
         |tc AS (SELECT pid, n, CAST(sum(c) AS BIGINT) AS total_c FROM cg GROUP BY pid, n),
         |tr2 AS (SELECT pid, n, CAST(sum(cr) AS BIGINT) AS total_r FROM rg GROUP BY pid, n),
         |mt AS (SELECT cg.pid, cg.n, CAST(sum(least(cg.c, rg.cr)) AS BIGINT) AS m
         |  FROM cg JOIN rg ON cg.pid = rg.pid AND cg.n = rg.n AND cg.gram = rg.gram
         |  GROUP BY cg.pid, cg.n)
         |SELECT tc.pid AS doc_id, tc.n, total_c, total_r, coalesce(m, 0) AS matches,
         |  coalesce(m, 0) * 1000000 // total_c AS prec_e6,
         |  coalesce(m, 0) * 1000000 // total_r AS rec_e6,
         |  2 * coalesce(m, 0) * 1000000 // (total_c + total_r) AS f1_e6
         |FROM tc JOIN tr2 ON tc.pid = tr2.pid AND tc.n = tr2.n
         |LEFT JOIN mt ON tc.pid = mt.pid AND tc.n = mt.n
         |ORDER BY doc_id, tc.n""".stripMargin,

    // Viterbi replay: per-user observation lists, the (max,+) fold via
    // list_reduce with the init vector prepended; integer score tables
    // inline on both sides.
    "q_viterbi" ->
      """WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS o
        |  FROM events),
        |seq AS (SELECT user_id, list(o ORDER BY t, event_id) AS obs
        |  FROM ev GROUP BY user_id),
        |v AS (SELECT user_id, len(obs) AS n_events,
        |    list_reduce(
        |      list_prepend([0 + [-2,-1,-5,-4,-2][obs[1] + 1],
        |                    -10 + [-4,-4,-1,-1,-5][obs[1] + 1]],
        |        list_transform(obs[2:], x -> [x, 0])),
        |      (acc, x) -> [greatest(acc[1] - 1, acc[2] - 6) + [-2,-1,-5,-4,-2][x[1] + 1],
        |                   greatest(acc[1] - 8, acc[2] - 2) + [-4,-4,-1,-1,-5][x[1] + 1]]) AS vv
        |  FROM seq)
        |SELECT user_id, n_events, CAST(vv[1] AS BIGINT) AS v0, CAST(vv[2] AS BIGINT) AS v1,
        |  CAST(greatest(vv[1], vv[2]) AS BIGINT) AS best_score,
        |  CAST(CASE WHEN vv[2] > vv[1] THEN 1 ELSE 0 END AS BIGINT) AS best_state
        |FROM v ORDER BY user_id""".stripMargin,

    // Kalman replay: the q_holt recursive chain with the adaptive e6
    // gain; every state component a truncated integer.
    "q_kalman" ->
      """WITH RECURSIVE daily AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |d2 AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM daily),
        |r AS (
        |  SELECT rn, d, x, x * 1000000 AS xe, CAST(400000000 AS BIGINT) AS p,
        |    CAST(0 AS BIGINT) AS k
        |  FROM d2 WHERE rn = 1
        |  UNION ALL
        |  SELECT d2.rn, d2.d, d2.x,
        |    r.xe + ((r.p + 25000000) * 1000000 // ((r.p + 25000000) + 400000000))
        |         * (d2.x * 1000000 - r.xe) // 1000000,
        |    (1000000 - ((r.p + 25000000) * 1000000 // ((r.p + 25000000) + 400000000)))
        |         * (r.p + 25000000) // 1000000,
        |    (r.p + 25000000) * 1000000 // ((r.p + 25000000) + 400000000)
        |  FROM r JOIN d2 ON d2.rn = r.rn + 1)
        |SELECT d, x, CAST(xe AS BIGINT) AS filt_e6, CAST(p AS BIGINT) AS p_e6,
        |  CAST(k AS BIGINT) AS k_e6
        |FROM r ORDER BY d""".stripMargin,

    // Page-Hinkley replay: cumulative windows over the daily table —
    // running mean at e6, deviation sum, running min, alarm flag.
    "q_page_hinkley" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |w AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn,
        |    sum(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1
        |  FROM daily),
        |m0 AS (SELECT d, x, rn, CAST(c1 AS HUGEINT) * 1000000 // rn AS mean6 FROM w),
        |m1 AS (SELECT d, x, CAST(mean6 AS BIGINT) AS mean_e6,
        |    x * 1000000 - CAST(mean6 AS BIGINT) - 5000000 AS dev FROM m0),
        |m2 AS (SELECT d, x, mean_e6,
        |    sum(dev) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        |  FROM m1),
        |m3 AS (SELECT d, x, mean_e6,
        |    CAST(m - min(m) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ph_e6
        |  FROM m2)
        |SELECT d, x, mean_e6, ph_e6, ph_e6 > 50000000 AS alarm
        |FROM m3 ORDER BY d""".stripMargin,

    // Hurst replay: hour spine zero-fills, len-scaled exact deviations
    // per dyadic chunk, R/S via the IEEE-sqrt floor rule, per-scale
    // mean and consecutive-scale ratio.
    "q_hurst" ->
      """WITH hourly AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |sp AS (SELECT unnest(range(h0, h1 + 1)) AS h, h0
        |  FROM (SELECT min(h) AS h0, max(h) AS h1 FROM hourly)),
        |f AS (SELECT sp.h, sp.h0, coalesce(hourly.x, 0) AS x
        |  FROM sp LEFT JOIN hourly ON sp.h = hourly.h),
        |sc AS (SELECT unnest([16, 32, 64]) AS scale),
        |rows0 AS (SELECT h, h0, x, scale, (h - h0) // scale AS chunk FROM f CROSS JOIN sc),
        |cs AS (SELECT scale, chunk, sum(x) AS s, count(*) AS cnt
        |  FROM rows0 GROUP BY scale, chunk),
        |csf AS (SELECT * FROM cs WHERE cnt = scale),
        |pc0 AS (SELECT r.scale, r.chunk, r.h, r.scale * r.x - csf.s AS dev
        |  FROM rows0 r JOIN csf ON r.scale = csf.scale AND r.chunk = csf.chunk),
        |pc1 AS (SELECT scale, chunk, dev,
        |    sum(dev) OVER (PARTITION BY scale, chunk ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y FROM pc0),
        |pc2 AS (SELECT scale, chunk, max(y) - min(y) AS r_l, sum(dev * dev) AS ss
        |  FROM pc1 GROUP BY scale, chunk),
        |pc3 AS (SELECT scale, chunk, CASE WHEN ss = 0 THEN 0
        |    ELSE CAST(floor(1000000.0 * CAST(r_l AS DOUBLE) * sqrt(CAST(scale AS DOUBLE))
        |      / sqrt(CAST(ss AS DOUBLE))) AS BIGINT) END AS rs_e6 FROM pc2),
        |ps AS (SELECT scale, CAST(count(*) AS BIGINT) AS n_chunks,
        |    CAST(sum(rs_e6) // count(*) AS BIGINT) AS avg_rs_e6 FROM pc3 GROUP BY scale)
        |SELECT CAST(a.scale AS BIGINT) AS scale, a.n_chunks, a.avg_rs_e6,
        |  CAST(a.avg_rs_e6 * 1000000 // b.avg_rs_e6 AS BIGINT) AS ratio_prev_e6
        |FROM ps a LEFT JOIN ps b ON a.scale = b.scale * 2
        |ORDER BY scale""".stripMargin,

    // TOST replay: the Welch sufficient-statistics chain with the ±$5
    // margin shifted numerators and both one-sided t-squares.
    "q_tost" ->
      """WITH ev AS (SELECT user_id % 2 AS g,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cts
        |  FROM events WHERE event_type = 'purchase'),
        |per AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(cts AS HUGEINT)) AS s, sum(CAST(cts AS HUGEINT) * cts) AS ssq
        |  FROM ev GROUP BY g),
        |v AS (SELECT g, n, s,
        |    (1000000 * (n * ssq - s * s)) // (n * n * (n - 1)) AS vn_e6 FROM per),
        |piv AS (SELECT
        |    max(CASE WHEN g = 0 THEN n END) AS n0, max(CASE WHEN g = 1 THEN n END) AS n1,
        |    max(CASE WHEN g = 0 THEN s END) AS s0, max(CASE WHEN g = 1 THEN s END) AS s1,
        |    max(CASE WHEN g = 0 THEN vn_e6 END) AS vn0,
        |    max(CASE WHEN g = 1 THEN vn_e6 END) AS vn1
        |  FROM v),
        |d AS (SELECT *, 1000 * (s0 * n1 - s1 * n0) // (n0 * n1) AS diff_e3 FROM piv),
        |e AS (SELECT *, diff_e3 + 500000 AS nl_e3, 500000 - diff_e3 AS nu_e3 FROM d)
        |SELECT CAST(diff_e3 AS BIGINT) AS diff_e3,
        |  CAST(nl_e3 AS BIGINT) AS nl_e3, CAST(nu_e3 AS BIGINT) AS nu_e3,
        |  CAST(1000000 * nl_e3 * nl_e3 // nullif(vn0 + vn1, 0) AS BIGINT) AS tl2_e6,
        |  CAST(1000000 * nu_e3 * nu_e3 // nullif(vn0 + vn1, 0) AS BIGINT) AS tu2_e6,
        |  nl_e3 > 0 AND nu_e3 > 0
        |    AND 1000000 * nl_e3 * nl_e3 // nullif(vn0 + vn1, 0) >= 2706025
        |    AND 1000000 * nu_e3 * nu_e3 // nullif(vn0 + vn1, 0) >= 2706025 AS equivalent
        |FROM e""".stripMargin,

    // RDD replay: per-user spend, ±20 bandwidth around the score
    // cutoff, one exact OLS per side, fitted-value gap at the cutoff.
    "q_rdd_sharp" ->
      """WITH per AS (SELECT user_id % 100 AS sc,
        |    sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS y
        |  FROM events GROUP BY user_id),
        |bw AS (SELECT sc >= 50 AS r, CAST(sc AS HUGEINT) AS x, CAST(y AS HUGEINT) AS y
        |  FROM per WHERE sc >= 30 AND sc < 70),
        |s AS (SELECT r, CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx FROM bw GROUP BY r),
        |f AS (SELECT r, n, (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS b_e6,
        |    sx, sy FROM s),
        |f2 AS (SELECT r, n, b_e6, (sy * 1000000 - b_e6 * sx) // n AS a_e6 FROM f),
        |f3 AS (SELECT r, n, b_e6, a_e6 + b_e6 * 50 AS at50 FROM f2)
        |SELECT CAST(sum(n) AS BIGINT) AS n_bw,
        |  CAST(max(CASE WHEN NOT r THEN at50 END) AS BIGINT) AS left_at_cut_e6,
        |  CAST(max(CASE WHEN r THEN at50 END) AS BIGINT) AS right_at_cut_e6,
        |  CAST(max(CASE WHEN NOT r THEN b_e6 END) AS BIGINT) AS slope_left_e6,
        |  CAST(max(CASE WHEN r THEN b_e6 END) AS BIGINT) AS slope_right_e6,
        |  CAST(max(CASE WHEN r THEN at50 END)
        |    - max(CASE WHEN NOT r THEN at50 END) AS BIGINT) AS tau_e6
        |FROM f3""".stripMargin,

    // UCB1 replay: (day, arm) reward table, recursive chain carrying
    // exact per-arm count/sum lists; the index is recomputed per round
    // from those integers with IEEE-exact double ops.
    "q_ucb" -> {
      val l = "(CASE WHEN d2.rn >= 16 THEN 4 WHEN d2.rn >= 8 THEN 3 " +
        "WHEN d2.rn >= 4 THEN 2 ELSE 1 END)"
      val idx = s"list_transform(range(5), k -> CAST(r.ss[k + 1] AS DOUBLE) " +
        s"/ CAST(r.ns[k + 1] AS DOUBLE) / 1000000.0 " +
        s"+ 100.0 * sqrt(2.0 * CAST($l AS DOUBLE) / CAST(r.ns[k + 1] AS DOUBLE)))"
      val pick = s"(CASE WHEN d2.rn <= 5 THEN CAST(d2.rn - 1 AS INT) " +
        s"ELSE CAST(list_position($idx, list_aggregate($idx, 'max')) AS INT) - 1 END)"
      val rew = s"d2.r[$pick + 1]"
      val rCols = (0 to 4).map(k =>
        s"coalesce(max(CASE WHEN a = $k THEN CAST(s * 10000 // c AS BIGINT) END), 0)")
        .mkString(",\n        |    ")
      s"""WITH RECURSIVE ev AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
         |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
         |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS a,
         |    CAST(round(value * 100, 0) AS BIGINT) AS cts
         |  FROM events),
         |da AS (SELECT d, a, CAST(sum(cts) AS HUGEINT) AS s, count(*) AS c
         |  FROM ev GROUP BY d, a),
         |dr AS (SELECT d, [$rCols] AS r FROM da GROUP BY d),
         |d2 AS (SELECT d, r, row_number() OVER (ORDER BY d) AS rn FROM dr),
         |r AS (
         |  SELECT rn, d, r AS rw, CAST(0 AS INT) AS pick, r[1] AS reward_e6,
         |    [CAST(1 AS BIGINT), 0, 0, 0, 0] AS ns,
         |    [r[1], 0, 0, 0, 0] AS ss, CAST(1 AS BIGINT) AS n_after
         |  FROM d2 WHERE rn = 1
         |  UNION ALL
         |  SELECT d2.rn, d2.d, d2.r,
         |    $pick,
         |    $rew,
         |    list_transform(range(5), i -> CASE WHEN i = $pick
         |      THEN r.ns[CAST(i AS INT) + 1] + 1 ELSE r.ns[CAST(i AS INT) + 1] END),
         |    list_transform(range(5), i -> CASE WHEN i = $pick
         |      THEN r.ss[CAST(i AS INT) + 1] + $rew ELSE r.ss[CAST(i AS INT) + 1] END),
         |    r.ns[$pick + 1] + 1
         |  FROM r JOIN d2 ON d2.rn = r.rn + 1)
         |SELECT d, CAST(pick AS BIGINT) AS pick, reward_e6, n_after
         |FROM r ORDER BY d""".stripMargin
    },

    // DBSCAN replay: planted triples/chains, same-label candidate
    // pairs with the exact cosine gate, core flags, recursive-CTE
    // min-label components over core-core edges, border attachment,
    // noise remainder.
    "q_dbscan" ->
      s"""WITH RECURSIVE $plantedEmbeddingCtes,
         |base AS (SELECT vec_id, label, ${normSql("v")} AS v FROM raw),
         |codes AS (SELECT vec_id, label, v, ${dbscanBand(0)} AS c0,
         |    ${dbscanBand(4)} AS c1 FROM base),
         |cand AS ($codesBandPairsSql),
         |pairs AS (SELECT DISTINCT va, vb FROM cand
         |  JOIN base ba ON cand.va = ba.vec_id JOIN base bb ON cand.vb = bb.vec_id
         |  WHERE ${dotSql("ba.v", "bb.v")} >= 0.995),
         |deg AS (SELECT v, count(*) AS nn FROM (
         |    SELECT va AS v FROM pairs UNION ALL SELECT vb FROM pairs) u GROUP BY v),
         |core AS (SELECT base.vec_id AS v, coalesce(nn, 0) + 1 >= 3 AS is_core
         |  FROM base LEFT JOIN deg ON base.vec_id = deg.v),
         |ce AS (SELECT va, vb FROM pairs
         |  JOIN core ca ON pairs.va = ca.v JOIN core cb ON pairs.vb = cb.v
         |  WHERE ca.is_core AND cb.is_core),
         |edges AS (SELECT va AS src, vb AS dst FROM ce UNION SELECT vb, va FROM ce),
         |cc AS (SELECT v AS node, v AS m FROM core WHERE is_core
         |       UNION
         |       SELECT e2.dst AS node, cc.m FROM cc JOIN edges e2 ON e2.src = cc.node),
         |lab AS (SELECT node AS v, min(m) AS cluster_id FROM cc GROUP BY node),
         |bl AS (SELECT n.p AS v, min(lab.cluster_id) AS cluster_id
         |  FROM (SELECT va AS p, vb AS q FROM pairs UNION ALL SELECT vb, va FROM pairs) n
         |  JOIN core cp ON n.p = cp.v AND NOT cp.is_core
         |  JOIN lab ON n.q = lab.v
         |  GROUP BY n.p),
         |cl AS (SELECT v, cluster_id, TRUE AS is_core FROM lab
         |       UNION ALL SELECT v, cluster_id, FALSE FROM bl),
         |sizes AS (SELECT cluster_id,
         |    CAST(sum(CASE WHEN is_core THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
         |    CAST(sum(CASE WHEN is_core THEN 0 ELSE 1 END) AS BIGINT) AS n_border
         |  FROM cl GROUP BY cluster_id),
         |tot AS (SELECT count(*) AS n_total FROM base),
         |ncl AS (SELECT count(*) AS n_clustered FROM cl)
         |SELECT cluster_id, n_core, n_border, n_core + n_border AS n_pts FROM sizes
         |UNION ALL
         |SELECT -1, 0, 0, n_total - n_clustered FROM tot CROSS JOIN ncl
         |ORDER BY cluster_id""".stripMargin,

    // Cross-correlation replay: daily click/purchase counts, the
    // shifted-day equi-join per lag, sufficient stats, IEEE-sqrt
    // floored correlation.
    "q_crosscorr" ->
      """WITH ev AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    event_type FROM events),
        |daily AS (SELECT d,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM ev GROUP BY d),
        |lags AS (SELECT unnest(range(-3, 4)) AS lag),
        |p AS (SELECT lag, t1.a, t2.b FROM daily t1 CROSS JOIN lags
        |  JOIN daily t2 ON t2.d = t1.d + lag),
        |s AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
        |    CAST(sum(a * b) AS BIGINT) AS sab, CAST(sum(a * a) AS BIGINT) AS saa,
        |    CAST(sum(b * b) AS BIGINT) AS sbb
        |  FROM p GROUP BY lag),
        |c AS (SELECT lag, n_days, n_days * sab - sa * sb AS num,
        |    n_days * saa - sa * sa AS va, n_days * sbb - sb * sb AS vb FROM s)
        |SELECT lag, n_days,
        |  CASE WHEN va = 0 OR vb = 0 THEN 0
        |    ELSE CAST(floor(1000000.0 * CAST(num AS DOUBLE)
        |      / (sqrt(CAST(va AS DOUBLE)) * sqrt(CAST(vb AS DOUBLE)))) AS BIGINT) END
        |    AS corr_e6
        |FROM c ORDER BY lag""".stripMargin,

    // Granger replay: the daily pair table, restricted AR(1) fit, the
    // unrestricted 2-lag fit by exact Cramer determinants in HUGEINT,
    // both SSEs from the truncated coefficients, F at e6.
    "q_granger" -> {
      val det = "(n * (sy1y1 * sx1x1 - sy1x1 * sy1x1) - sy1 * (sy1 * sx1x1 - sy1x1 * sx1) + sx1 * (sy1 * sy1x1 - sy1y1 * sx1))"
      val detA = "(sy * (sy1y1 * sx1x1 - sy1x1 * sy1x1) - sy1 * (syy1 * sx1x1 - syx1 * sy1x1) + sx1 * (syy1 * sy1x1 - syx1 * sy1y1))"
      val detB = "(n * (syy1 * sx1x1 - syx1 * sy1x1) - sy * (sy1 * sx1x1 - sy1x1 * sx1) + sx1 * (sy1 * syx1 - syy1 * sx1))"
      val detC = "(n * (sy1y1 * syx1 - sy1x1 * syy1) - sy1 * (sy1 * syx1 - syy1 * sx1) + sy * (sy1 * sy1x1 - sy1y1 * sx1))"
      s"""WITH ev AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
         |    event_type FROM events),
         |daily AS (SELECT d,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
         |  FROM ev GROUP BY d),
         |r0 AS (SELECT CAST(c.y AS HUGEINT) AS y, CAST(p.y AS HUGEINT) AS y1,
         |    CAST(p.x AS HUGEINT) AS x1
         |  FROM daily p JOIN daily c ON p.d + 1 = c.d),
         |s AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(y) AS sy, sum(y1) AS sy1,
         |    sum(x1) AS sx1, sum(y * y1) AS syy1, sum(y * x1) AS syx1,
         |    sum(y1 * y1) AS sy1y1, sum(y1 * x1) AS sy1x1, sum(x1 * x1) AS sx1x1
         |  FROM r0),
         |f1 AS (SELECT *, (n * syy1 - sy1 * sy) * 1000000
         |    // (n * sy1y1 - sy1 * sy1) AS br_e6 FROM s),
         |f2 AS (SELECT *, (sy * 1000000 - br_e6 * sy1) // n AS ar_e6 FROM f1),
         |f3 AS (SELECT *,
         |    $detA * 1000000 // $det AS au_e6,
         |    $detB * 1000000 // $det AS bu_e6,
         |    $detC * 1000000 // $det AS cu_e6 FROM f2),
         |sse AS (SELECT n, br_e6, bu_e6, cu_e6,
         |    sum((y * 1000000 - ar_e6 - br_e6 * y1) * (y * 1000000 - ar_e6 - br_e6 * y1))
         |      AS sser,
         |    sum((y * 1000000 - au_e6 - bu_e6 * y1 - cu_e6 * x1)
         |      * (y * 1000000 - au_e6 - bu_e6 * y1 - cu_e6 * x1)) AS sseu
         |  FROM r0 CROSS JOIN f3 GROUP BY n, br_e6, bu_e6, cu_e6)
         |SELECT CAST(n AS BIGINT) AS n_pairs, CAST(br_e6 AS BIGINT) AS ar_coef_e6,
         |  CAST(bu_e6 AS BIGINT) AS y_lag_coef_e6, CAST(cu_e6 AS BIGINT) AS x_lag_coef_e6,
         |  CAST(sser // 1000000 AS BIGINT) AS sse_r_e6,
         |  CAST(sseu // 1000000 AS BIGINT) AS sse_u_e6,
         |  CAST((sser - sseu) * (n - 3) * 1000000 // nullif(sseu, 0) AS BIGINT) AS f_e6
         |FROM sse""".stripMargin
    },

    // VaR/ES replay: day-over-day spend diffs, histogram-selected
    // 95th-percentile loss, exact tail mean.
    "q_var_es" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS s
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |losses AS (SELECT p.s - c.s AS loss FROM daily p JOIN daily c ON p.d + 1 = c.d),
        |hist AS (SELECT loss, count(*) AS cnt FROM losses GROUP BY loss),
        |cum AS (SELECT loss, sum(cnt) OVER (ORDER BY loss
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
        |nk AS (SELECT count(*) AS n, (19 * count(*) + 19) // 20 AS k FROM losses),
        |vr AS (SELECT n, k, min(loss) AS var_cents
        |  FROM cum CROSS JOIN nk WHERE cum >= k GROUP BY n, k)
        |SELECT n, k, var_cents, CAST(count(*) AS BIGINT) AS n_tail,
        |  CAST(CAST(sum(loss) AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS es_cents_e6
        |FROM losses CROSS JOIN vr WHERE loss >= var_cents
        |GROUP BY n, k, var_cents""".stripMargin,

    // Croston replay: zero-filled calendar, the recursive chain with
    // the three-way (zero day / first demand / smoothing) update.
    "q_croston" ->
      """WITH RECURSIVE daily0 AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(sum(CASE WHEN event_type = 'purchase' AND value >= 300.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |sp AS (SELECT unnest(range(d0, d1 + 1)) AS d
        |  FROM (SELECT min(d) AS d0, max(d) AS d1 FROM daily0)),
        |f AS (SELECT sp.d, coalesce(daily0.x, 0) AS x
        |  FROM sp LEFT JOIN daily0 ON sp.d = daily0.d),
        |d2 AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM f),
        |r AS (
        |  SELECT rn, d, x, CASE WHEN x > 0 THEN x * 1000000
        |      ELSE CAST(0 AS BIGINT) END AS z,
        |    CAST(1000000 AS BIGINT) AS p, CAST(0 AS BIGINT) AS gap
        |  FROM d2 WHERE rn = 1
        |  UNION ALL
        |  SELECT d2.rn, d2.d, d2.x,
        |    CASE WHEN d2.x = 0 THEN r.z
        |         WHEN r.z = 0 THEN d2.x * 1000000
        |         ELSE r.z + (d2.x * 1000000 - r.z) // 8 END,
        |    CASE WHEN d2.x = 0 THEN r.p
        |         WHEN r.z = 0 THEN (r.gap + 1) * 1000000
        |         ELSE r.p + ((r.gap + 1) * 1000000 - r.p) // 8 END,
        |    CASE WHEN d2.x = 0 THEN r.gap + 1 ELSE 0 END
        |  FROM r JOIN d2 ON d2.rn = r.rn + 1)
        |SELECT d, x, CAST(z AS BIGINT) AS level_e6, CAST(p AS BIGINT) AS interval_e6,
        |  CAST(z * 1000000 // nullif(p, 0) AS BIGINT) AS rate_e6
        |FROM r ORDER BY d""".stripMargin,

    // Durbin-Watson replay: exact OLS trend fit, e6-truncated
    // coefficients, integer residuals, d+1 lag self-join.
    "q_durbin_watson" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |tx AS (SELECT CAST(d - (SELECT min(d) FROM daily) AS HUGEINT) AS t,
        |    CAST(x AS HUGEINT) AS x FROM daily),
        |s AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(t) AS st, sum(x) AS sx,
        |    sum(t * t) AS stt, sum(t * x) AS stx FROM tx),
        |fit AS (SELECT *, (n * stx - st * sx) * 1000000 // (n * stt - st * st) AS b_e6
        |  FROM s),
        |fit2 AS (SELECT *, (sx * 1000000 - b_e6 * st) // n AS a_e6 FROM fit),
        |r AS (SELECT t, x * 1000000 - a_e6 - b_e6 * t AS r FROM tx CROSS JOIN fit2),
        |num AS (SELECT sum((c.r - p.r) * (c.r - p.r)) AS sd2
        |  FROM r p JOIN r c ON p.t + 1 = c.t)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(max(b_e6) AS BIGINT) AS slope_e6,
        |  CAST(max(sd2) * 1000000 // sum(r * r) AS BIGINT) AS dw_e6
        |FROM r CROSS JOIN num CROSS JOIN fit2""".stripMargin,

    // Ljung-Box replay: fraction-free ACF at lags 1..7, cumulative Q
    // over the e6-truncated rho's.
    "q_ljung_box" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS s,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx FROM daily),
        |lags AS (SELECT unnest(range(1, 8)) AS lag),
        |rho AS (SELECT lag, n, s, sxx,
        |    sum((n * a.x - s) * (n * b.x - s)) AS ck,
        |    sum((n * a.x - s) * (n * b.x - s)) * 1000000
        |      // (n * sxx - s * s) AS rho_e6
        |  FROM daily a CROSS JOIN lags JOIN daily b ON b.d = a.d + lag
        |  CROSS JOIN g GROUP BY lag, n, s, sxx)
        |SELECT lag, CAST(n AS BIGINT) AS n_days, CAST(rho_e6 AS BIGINT) AS rho_e6,
        |  CAST(n * (n + 2) * sum(rho_e6 * rho_e6 // (n - lag)) OVER (ORDER BY lag
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) // 1000000
        |    AS BIGINT) AS q_e6
        |FROM rho ORDER BY lag""".stripMargin,

    // Runs-test replay: 2x-median signs, rn+1 sign-change join, exact
    // signed squared z.
    "q_runs_test" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |med AS (SELECT CAST(2 * quantile_cont(x, 0.5) AS BIGINT) AS m2 FROM daily),
        |signed AS (SELECT d, CASE WHEN 2 * x > m2 THEN 1 ELSE 0 END AS s,
        |    row_number() OVER (ORDER BY d) AS rn
        |  FROM daily CROSS JOIN med WHERE 2 * x <> m2),
        |chg AS (SELECT sum(CASE WHEN p.s <> c.s THEN 1 ELSE 0 END) AS changes
        |  FROM signed p JOIN signed c ON p.rn + 1 = c.rn),
        |agg AS (SELECT CAST(sum(s) AS BIGINT) AS n1,
        |    CAST(sum(1 - s) AS BIGINT) AS n2 FROM signed),
        |st AS (SELECT n1, n2, changes + 1 AS runs, n1 + n2 AS nn,
        |    (changes + 1) * (n1 + n2) - 2 * n1 * n2 - (n1 + n2) AS num
        |  FROM agg CROSS JOIN chg)
        |SELECT n1, n2, CAST(runs AS BIGINT) AS runs,
        |  CAST(sign(num) * (num * num * (nn - 1) * 1000000
        |    // (2 * n1 * n2 * (2 * n1 * n2 - nn))) AS BIGINT) AS z2_signed_e6
        |FROM st""".stripMargin,

    // Kendall tau-b replay: calendar-bounded pair scan, tie-corrected
    // denominator with the floored sqrt-product rule.
    "q_kendall_tau" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |cd AS (SELECT
        |    CAST(sum(CASE WHEN sign(a.x - b.x) * sign(a.y - b.y) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
        |    CAST(sum(CASE WHEN sign(a.x - b.x) * sign(a.y - b.y) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS disc
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |tx AS (SELECT coalesce(CAST(sum(ct * (ct - 1) // 2) AS BIGINT), 0) AS tx
        |  FROM (SELECT count(*) AS ct FROM daily GROUP BY x)),
        |ty AS (SELECT coalesce(CAST(sum(ct * (ct - 1) // 2) AS BIGINT), 0) AS ty
        |  FROM (SELECT count(*) AS ct FROM daily GROUP BY y)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    count(*) * (count(*) - 1) // 2 AS n0 FROM daily)
        |SELECT n_days, conc AS concordant, disc AS discordant,
        |  CAST((conc - disc) * 1000000
        |    // CAST(floor(sqrt(CAST(n0 - tx AS DOUBLE))
        |                * sqrt(CAST(n0 - ty AS DOUBLE))) AS HUGEINT) AS BIGINT)
        |    AS tau_b_e6
        |FROM nn CROSS JOIN cd CROSS JOIN tx CROSS JOIN ty""".stripMargin,

    // Jarque-Bera replay: exact central power sums, identical IEEE
    // double formula floored at e6.
    "q_jarque_bera" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS s
        |  FROM daily),
        |p AS (SELECT n, sum(dv * dv) AS a, sum(dv * dv * dv) AS b,
        |    sum(dv * dv * dv * dv) AS c
        |  FROM (SELECT n, n * x - s AS dv FROM daily CROSS JOIN g) GROUP BY n)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |  CAST(floor(1000000.0 * CAST(b AS DOUBLE)
        |    / (CAST(a AS DOUBLE) * sqrt(CAST(a AS DOUBLE)))
        |    * sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS skew_e6,
        |  CAST((c * n - 3 * a * a) * 1000000 // (a * a) AS BIGINT)
        |    AS kurt_excess_e6,
        |  CAST(floor(1000000.0 * CAST(n AS DOUBLE) / 6.0
        |    * (CAST(b AS DOUBLE) * CAST(b AS DOUBLE) * CAST(n AS DOUBLE)
        |       / (CAST(a AS DOUBLE) * CAST(a AS DOUBLE) * CAST(a AS DOUBLE))
        |     + (CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
        |        - 3.0 * CAST(a AS DOUBLE) * CAST(a AS DOUBLE))
        |       * (CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
        |          - 3.0 * CAST(a AS DOUBLE) * CAST(a AS DOUBLE))
        |       / (4.0 * CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
        |          * CAST(a AS DOUBLE) * CAST(a AS DOUBLE)))) AS BIGINT) AS jb_e6
        |FROM p""".stripMargin,

    // Grubbs replay: exact n-scaled deviations, earliest argmax day,
    // G = M*sqrt(n-1)/sqrt(A) floored at e6.
    "q_grubbs" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS s
        |  FROM daily),
        |dev AS (SELECT d, x, n, abs(n * x - s) AS ad FROM daily CROSS JOIN g),
        |top AS (SELECT n, max(ad) AS m, sum(ad * ad) AS a FROM dev GROUP BY n),
        |pk AS (SELECT dev.n, m, a, min(d) AS outlier_day
        |  FROM dev JOIN top ON dev.n = top.n AND dev.ad = top.m
        |  GROUP BY dev.n, m, a)
        |SELECT CAST(pk.n AS BIGINT) AS n_days, outlier_day, daily.x,
        |  CAST(floor(1000000.0 * CAST(m AS DOUBLE)
        |    * sqrt(CAST(pk.n AS DOUBLE) - 1.0)
        |    / sqrt(CAST(a AS DOUBLE))) AS BIGINT) AS g_e6
        |FROM pk JOIN daily ON daily.d = pk.outlier_day""".stripMargin,

    // Effect-size replay: exact per-group stats for Cohen's d (same
    // IEEE formula), doubled-midrank support walk for Cliff's delta.
    "q_effect_size" ->
      """WITH ev AS (SELECT CASE WHEN (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
        |      + 4) % 7 >= 5 THEN 1 ELSE 0 END AS g,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |stats AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(v) AS HUGEINT) AS s, CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ssq
        |  FROM ev GROUP BY g),
        |wide AS (SELECT max(CASE WHEN g = 1 THEN n END) AS n1,
        |    max(CASE WHEN g = 0 THEN n END) AS n2,
        |    max(CASE WHEN g = 1 THEN s END) AS s1,
        |    max(CASE WHEN g = 0 THEN s END) AS s2,
        |    max(CASE WHEN g = 1 THEN ssq END) AS q1,
        |    max(CASE WHEN g = 0 THEN ssq END) AS q2 FROM stats),
        |sup AS (SELECT v, count(*) AS ct, sum(g) AS ct1 FROM ev GROUP BY v),
        |rk AS (SELECT ct1, 2 * coalesce(sum(ct) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + ct + 1 AS r2
        |  FROM sup),
        |r12 AS (SELECT CAST(sum(CAST(ct1 AS HUGEINT) * r2) AS HUGEINT) AS r1_2 FROM rk)
        |SELECT CAST(n1 AS BIGINT) AS n_weekend, CAST(n2 AS BIGINT) AS n_weekday,
        |  CAST(floor(1000000.0 *
        |    (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |     - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |    / sqrt(((CAST(n1 * q1 - s1 * s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |          + (CAST(n2 * q2 - s2 * s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
        |         / CAST(n1 + n2 - 2 AS DOUBLE))) AS BIGINT) AS cohens_d_e6,
        |  CAST((r1_2 - n1 * (n1 + 1)) * 1000000 // (n1 * n2) - 1000000 AS BIGINT)
        |    AS cliffs_delta_e6
        |FROM wide CROSS JOIN r12""".stripMargin,

    // F-test replay: exact variance-ratio rational at e6.
    "q_f_test" ->
      """WITH stats AS (SELECT CASE WHEN (epoch_us(CAST(ts AS TIMESTAMP))
        |      // 86400000000 + 4) % 7 >= 5 THEN 1 ELSE 0 END AS g,
        |    CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS HUGEINT) AS s,
        |    CAST(sum(CAST(CAST(round(value * 100, 0) AS BIGINT) AS HUGEINT)
        |      * CAST(round(value * 100, 0) AS BIGINT)) AS HUGEINT) AS ssq
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |wide AS (SELECT max(CASE WHEN g = 1 THEN n END) AS n1,
        |    max(CASE WHEN g = 0 THEN n END) AS n2,
        |    max(CASE WHEN g = 1 THEN n * ssq - s * s END) AS v1,
        |    max(CASE WHEN g = 0 THEN n * ssq - s * s END) AS v2 FROM stats)
        |SELECT CAST(n1 AS BIGINT) AS n_weekend, CAST(n2 AS BIGINT) AS n_weekday,
        |  CAST(v1 * n2 * (n2 - 1) * 1000000 // (v2 * n1 * (n1 - 1)) AS BIGINT)
        |    AS f_e6
        |FROM wide""".stripMargin,

    // Mood's median replay: 2x-median gate, per-cell truncated chi2.
    "q_mood_median" ->
      """WITH ev AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v
        |  FROM events),
        |med AS (SELECT CAST(2 * quantile_cont(v, 0.5) AS BIGINT) AS m2 FROM ev),
        |cells AS (SELECT event_type,
        |    CAST(sum(CASE WHEN 2 * v > m2 THEN 1 ELSE 0 END) AS BIGINT) AS above,
        |    CAST(sum(CASE WHEN 2 * v < m2 THEN 1 ELSE 0 END) AS BIGINT) AS below
        |  FROM ev CROSS JOIN med WHERE 2 * v <> m2 GROUP BY event_type),
        |tot AS (SELECT CAST(sum(above) AS HUGEINT) AS ca,
        |    CAST(sum(below) AS HUGEINT) AS cb,
        |    CAST(sum(above + below) AS HUGEINT) AS nn FROM cells),
        |q AS (SELECT event_type, above, below,
        |    CAST(above + below AS HUGEINT) AS rw,
        |    CAST(above AS HUGEINT) * nn - CAST(above + below AS HUGEINT) * ca AS da,
        |    CAST(below AS HUGEINT) * nn - CAST(above + below AS HUGEINT) * cb AS db,
        |    ca, cb, nn FROM cells CROSS JOIN tot)
        |SELECT event_type, above, below,
        |  CAST(  da * da * 1000000 // (nn * rw * ca)
        |       + db * db * 1000000 // (nn * rw * cb) AS BIGINT) AS chi2_cell_e6
        |FROM q ORDER BY event_type""".stripMargin,

    // SES grid replay: one recursive chain per alpha, identical
    // truncated fixed-point updates.
    "q_ses_grid" ->
      """WITH RECURSIVE daily AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |d2 AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM daily),
        |alphas AS (SELECT unnest(range(1, 8)) AS k),
        |r AS (
        |  SELECT k, rn, x * 1000000 AS l, CAST(0 AS BIGINT) AS sse,
        |    CAST(1 AS BIGINT) AS n
        |  FROM d2 CROSS JOIN alphas WHERE rn = 1
        |  UNION ALL
        |  SELECT r.k, d2.rn,
        |    r.l + r.k * (d2.x * 1000000 - r.l) // 8,
        |    r.sse + ((d2.x * 1000000 - r.l) // 1000000)
        |          * ((d2.x * 1000000 - r.l) // 1000000),
        |    r.n + 1
        |  FROM r JOIN d2 ON d2.rn = r.rn + 1)
        |SELECT CAST(k AS BIGINT) AS alpha_8ths, n AS n_days, sse,
        |  CAST(l AS BIGINT) AS level_e6
        |FROM r WHERE rn = (SELECT max(rn) FROM d2) ORDER BY alpha_8ths""".stripMargin,

    // Discord replay: zero-filled hourly calendar, strided 24h
    // windows, exact squared distances, nearest-neighbor min, top 3.
    "q_discord" ->
      """WITH hourly AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
        |sp AS (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds),
        |fz AS (SELECT sp.h, coalesce(hourly.x, 0) AS x
        |  FROM sp LEFT JOIN hourly ON sp.h = hourly.h),
        |starts AS (SELECT unnest(range(h0, h1 - 23 + 1, 6)) AS s FROM bounds),
        |win AS (SELECT s, off, x FROM starts,
        |  LATERAL (SELECT unnest(range(0, 24)) AS off) o
        |  JOIN fz ON fz.h = s + off),
        |dist AS (SELECT a.s AS s, b.s AS s2, sum((a.x - b.x) * (a.x - b.x)) AS d2
        |  FROM win a JOIN win b ON a.off = b.off AND abs(a.s - b.s) >= 24
        |  GROUP BY a.s, b.s)
        |SELECT s AS window_start_h, CAST(min(d2) AS BIGINT) AS nnd
        |FROM dist GROUP BY s ORDER BY nnd DESC, s LIMIT 3""".stripMargin,

    // Closeness replay: the harmonic BFS chain + Wasserman-Faust
    // normalization against the global node count.
    "q_closeness" -> {
      s"""WITH $partEdgeCtes,
         |allnodes AS (SELECT DISTINCT src AS node FROM bu),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM allnodes),
         |roots AS (SELECT node FROM allnodes ORDER BY node LIMIT 10),
         |cd0 AS (SELECT node AS root, node, CAST(0 AS BIGINT) AS d FROM roots),
         |${rootedBfsCtes("cd", 8)},
         |fixguard AS (SELECT CASE WHEN (SELECT count(*) FROM cd8)
         |    = (SELECT count(*) FROM cd7) THEN 1 ELSE 0 END AS at_fixpoint)
         |SELECT root, CAST(count(*) AS BIGINT) AS n_reached,
         |  CAST(sum(d) AS BIGINT) AS sum_d,
         |  CAST(CASE WHEN at_fixpoint = 1
         |    THEN count(*) * count(*) * 1000000 // (sum(d) * (n_total - 1))
         |    ELSE error('q_closeness oracle: cd8 <> cd7, unroll depth insufficient')
         |  END AS BIGINT) AS closeness_wf_e6
         |FROM cd8 CROSS JOIN fixguard CROSS JOIN nt
         |WHERE d > 0 GROUP BY root, at_fixpoint, n_total ORDER BY root""".stripMargin
    },

    // Pseudonymization replay: same Knuth-multiplicative bucket map.
    "q_pseudonymize" ->
      """WITH users AS (SELECT DISTINCT user_id FROM events),
        |p AS (SELECT user_id, (user_id * 2654435761) % 1000003 AS pseudo FROM users),
        |b AS (SELECT pseudo, CAST(count(*) AS BIGINT) AS ct FROM p GROUP BY pseudo)
        |SELECT CAST(sum(ct) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_pseudonyms,
        |  CAST(max(ct) AS BIGINT) AS max_users_per_pseudo,
        |  CAST(sum(CASE WHEN ct > 1 THEN ct ELSE 0 END) AS BIGINT) AS n_collided_users
        |FROM b""".stripMargin,

    // Dataset-card replay: per-source rollup + struct-argmax dominant
    // language (count then lang, descending).
    "q_dataset_card" ->
      s"""WITH base AS (SELECT source, lang, n_chars, md5(text) AS th,
         |    CAST(len(${wordsSql("text")}) AS BIGINT) AS ntok FROM documents),
         |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT th) AS BIGINT) AS n_distinct_texts,
         |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |    CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |  FROM base GROUP BY source),
         |lc AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
         |  FROM base GROUP BY source, lang),
         |top AS (SELECT source, lang AS top_lang, c AS top_c FROM (
         |  SELECT source, lang, c, row_number() OVER (PARTITION BY source
         |    ORDER BY c DESC, lang DESC) AS rn FROM lc) WHERE rn = 1)
         |SELECT per.source, n_docs, n_distinct_texts,
         |  CAST((n_docs - n_distinct_texts) * 1000000 // n_docs AS BIGINT)
         |    AS dup_rate_e6,
         |  total_chars,
         |  CAST(total_chars * 100 // n_docs AS BIGINT) AS mean_chars_e2,
         |  n_tokens, n_langs, top_lang,
         |  CAST(top_c * 1000000 // n_docs AS BIGINT) AS top_lang_share_e6
         |FROM per JOIN top ON per.source = top.source
         |ORDER BY per.source""".stripMargin,

    // LOO 3-NN replay: exact e6-floored squared-L2, per-probe top-3 by
    // (dist, id), majority vote with smallest-label tie-break.
    "q_knn_class" ->
      s"""WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |pr AS (SELECT vec_id AS probe_id, label AS true_label, v AS pv FROM e0
         |  WHERE vec_id % 37 = 5 AND vec_id < 2000),
         |sc AS (SELECT probe_id, e0.vec_id AS neighbor_id, e0.label,
         |    CAST(floor(greatest(${dotSql("pv", "pv")}
         |      - 2.0 * ${dotSql("pv", "e0.v")}
         |      + ${dotSql("e0.v", "e0.v")}, 0.0) * 1000000.0) AS BIGINT) AS adc_e6
         |  FROM e0 CROSS JOIN pr WHERE e0.vec_id <> pr.probe_id),
         |top3 AS (SELECT probe_id, label FROM (
         |    SELECT probe_id, label, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY adc_e6, neighbor_id) AS rn FROM sc) t WHERE rn <= 3),
         |votes AS (SELECT probe_id, label, count(*) AS c FROM top3 GROUP BY 1, 2),
         |pred AS (SELECT probe_id, label AS pred_label FROM (
         |    SELECT probe_id, label, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY c DESC, label ASC) AS rn FROM votes) t WHERE rn = 1)
         |SELECT pr.probe_id, pr.true_label, pred.pred_label,
         |  pr.true_label = pred.pred_label AS correct
         |FROM pr JOIN pred ON pr.probe_id = pred.probe_id
         |ORDER BY pr.probe_id""".stripMargin,

    // Brier replay: the calibration bucket table, exact per-bucket
    // decomposition n_pos*(1e6-p)^2 + n_neg*p^2.
    "q_brier" ->
      s"""WITH $pcptCtes,
         |fs AS (SELECT c.doc_id, c.y,
         |    CAST(sum(c.n * coalesce(w3.w, 0)) AS BIGINT) + (SELECT b FROM b3) AS score
         |  FROM pc0 c LEFT JOIN w3 USING (bucket) GROUP BY c.doc_id, c.y),
         |mm AS (SELECT min(score) AS mn, max(score) AS mx FROM fs),
         |bk AS (SELECT CAST((score - mn) * 10 // (mx - mn + 1) AS BIGINT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |  FROM fs CROSS JOIN mm GROUP BY 1),
         |bb AS (SELECT n_docs, n_pos, n_pos * 1000000 // n_docs AS p_e6 FROM bk)
         |SELECT CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(sum(CAST(n_pos AS HUGEINT) * (1000000 - p_e6) * (1000000 - p_e6)
         |         + CAST(n_docs - n_pos AS HUGEINT) * p_e6 * p_e6)
         |    // (CAST(sum(n_docs) AS HUGEINT) * 1000000) AS BIGINT) AS brier_e6
         |FROM bb""".stripMargin,

    // Gains replay: same bucket table walked top band down.
    "q_lift_gains" ->
      s"""WITH $pcptCtes,
         |fs AS (SELECT c.doc_id, c.y,
         |    CAST(sum(c.n * coalesce(w3.w, 0)) AS BIGINT) + (SELECT b FROM b3) AS score
         |  FROM pc0 c LEFT JOIN w3 USING (bucket) GROUP BY c.doc_id, c.y),
         |mm AS (SELECT min(score) AS mn, max(score) AS mx FROM fs),
         |bk AS (SELECT CAST((score - mn) * 10 // (mx - mn + 1) AS BIGINT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |  FROM fs CROSS JOIN mm GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
         |    CAST(sum(n_pos) AS BIGINT) AS pp FROM bk),
         |cm AS (SELECT bucket, n_docs, n_pos,
         |    CAST(sum(n_docs) OVER wd AS BIGINT) AS cum_docs,
         |    CAST(sum(n_pos) OVER wd AS BIGINT) AS cum_pos
         |  FROM bk WINDOW wd AS (ORDER BY bucket DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT bucket, n_docs, n_pos,
         |  CAST(cum_pos * 1000000 // pp AS BIGINT) AS capture_e6,
         |  CAST(cum_docs * 1000000 // nn AS BIGINT) AS share_e6,
         |  CAST((cum_pos * nn * 1000000) // (cum_docs * pp) AS BIGINT) AS lift_e6
         |FROM cm CROSS JOIN tot ORDER BY bucket DESC""".stripMargin,

    // Single-linkage replay: the dbscan planted/banded chain with the
    // cosine kept, one CC label closure per threshold cut.
    "q_single_linkage" -> {
      def cut(tag: String, thr: String): String =
        s"""e$tag AS (SELECT va, vb FROM cand WHERE cs >= $thr),
           |ed$tag AS MATERIALIZED (SELECT va AS src, vb AS dst FROM e$tag
           |  UNION SELECT vb, va FROM e$tag),
           |n$tag AS (SELECT DISTINCT src AS node FROM ed$tag),
           |cc$tag AS (SELECT node, node AS m FROM n$tag
           |  UNION SELECT e2.dst AS node, cc$tag.m
           |    FROM cc$tag JOIN ed$tag e2 ON e2.src = cc$tag.node),
           |l$tag AS (SELECT node, min(m) AS cl FROM cc$tag GROUP BY node),
           |s$tag AS (SELECT cl, CAST(count(*) AS BIGINT) AS sz FROM l$tag GROUP BY cl),
           |r$tag AS (SELECT CAST($tag AS BIGINT) AS threshold_e3,
           |  CAST(count(*) AS BIGINT) AS n_clusters,
           |  coalesce(max(sz), 0) AS max_size,
           |  CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_clustered FROM s$tag)""".stripMargin
      s"""WITH RECURSIVE $plantedEmbeddingCtes,
         |base AS MATERIALIZED (SELECT vec_id, label, ${normSql("v")} AS v FROM raw),
         |codes AS MATERIALIZED (SELECT vec_id, label, v, ${dbscanBand(0)} AS c0,
         |    ${dbscanBand(4)} AS c1 FROM base),
         |cand0 AS ($codesBandPairsSql),
         |cand AS MATERIALIZED (SELECT va, vb, ${dotSql("ba.v", "bb.v")} AS cs FROM cand0
         |  JOIN base ba ON cand0.va = ba.vec_id JOIN base bb ON cand0.vb = bb.vec_id
         |  WHERE ${dotSql("ba.v", "bb.v")} >= 0.98),
         |${cut("995", "0.995")},
         |${cut("990", "0.990")},
         |${cut("980", "0.980")}
         |SELECT * FROM r995 UNION ALL SELECT * FROM r990
         |UNION ALL SELECT * FROM r980 ORDER BY threshold_e3""".stripMargin
    },

    // Sample-size replay: observed conversion, fixed z rationals,
    // exact e6/e12 integer chain.
    "q_sample_size" ->
      """WITH conv AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS k
        |  FROM (SELECT user_id, max(CASE WHEN event_type = 'purchase'
        |      AND value >= 200.0 THEN 1 ELSE 0 END) AS c
        |    FROM events GROUP BY user_id)),
        |p AS (SELECT n, k, k * 1000000 // n AS p1_e6 FROM conv),
        |lifts AS (SELECT unnest([20000, 50000, 100000]) AS lift_e6),
        |q AS (SELECT n AS n_users, p1_e6, lift_e6,
        |    p1_e6 * (1000000 + lift_e6) // 1000000 AS p2_e6
        |  FROM p CROSS JOIN lifts)
        |SELECT n_users, CAST(p1_e6 AS BIGINT) AS p1_e6,
        |  CAST(lift_e6 AS BIGINT) AS lift_e6, CAST(p2_e6 AS BIGINT) AS p2_e6,
        |  CAST(CAST(2801585 AS HUGEINT) * 2801585
        |      * (p1_e6 * (1000000 - p1_e6) + p2_e6 * (1000000 - p2_e6))
        |    // ((p2_e6 - p1_e6) * (p2_e6 - p1_e6)) // 1000000000000 AS BIGINT)
        |    AS n_per_arm
        |FROM q ORDER BY lift_e6""".stripMargin,

    // Needleman-Wunsch replay: per-user ordered first-7 event types,
    // the same 49 unrolled DP cells re-rowed into MATERIALIZED per-row
    // CTEs (the rouge_l device — lateral form planned ~38 s).
    "q_needleman" ->
      s"""WITH ${userPairDpCtes(Queries.nwCells(i => s"a[$i]", j => s"b[$j]", 7))}
         |SELECT user_a, user_b, CAST(ca7 AS BIGINT) AS nw_score
         |FROM dp7 ORDER BY user_a, user_b""".stripMargin,

    // Forecast-backtest replay: one recursive chain carrying
    // (ses, l, b, first, last, n) over the train prefix, the same four
    // h-step forecasts, exact MAE.
    "q_forecast_eval" ->
      """WITH RECURSIVE daily AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |sp AS (SELECT max(d) - 7 AS dsplit FROM daily),
        |tr AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn
        |  FROM daily CROSS JOIN sp WHERE d <= dsplit),
        |r AS (
        |  SELECT rn, x * 1000000 AS ses, x * 1000000 AS l, CAST(0 AS BIGINT) AS b,
        |    x AS f0, x AS lst, CAST(1 AS BIGINT) AS n
        |  FROM tr WHERE rn = 1
        |  UNION ALL
        |  SELECT tr.rn,
        |    r.ses + (tr.x * 1000000 - r.ses) // 8,
        |    r.l + r.b + (tr.x * 1000000 - r.l - r.b) // 8,
        |    r.b + ((r.l + r.b + (tr.x * 1000000 - r.l - r.b) // 8) - r.l - r.b) // 4,
        |    r.f0, tr.x, r.n + 1
        |  FROM r JOIN tr ON tr.rn = r.rn + 1),
        |m AS (SELECT * FROM r WHERE rn = (SELECT max(rn) FROM tr)),
        |te AS (SELECT d - dsplit AS h, x FROM daily CROSS JOIN sp WHERE d > dsplit),
        |fc AS (
        |  SELECT 'naive' AS model, h, x, lst * 1000000 AS f FROM te CROSS JOIN m
        |  UNION ALL
        |  SELECT 'drift', h, x, lst * 1000000
        |    + h * ((lst - f0) * 1000000 // (n - 1)) FROM te CROSS JOIN m
        |  UNION ALL
        |  SELECT 'ses', h, x, ses FROM te CROSS JOIN m
        |  UNION ALL
        |  SELECT 'holt', h, x, l + h * b FROM te CROSS JOIN m)
        |SELECT model, CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(abs(x * 1000000 - f)) // count(*) AS BIGINT) AS mae_e6
        |FROM fc GROUP BY model ORDER BY model""".stripMargin,

    // CEM replay: the same user reduce, bin cells, matched-bin
    // weighted gap with per-bin e6 truncation.
    "q_cem" ->
      """WITH u0 AS (SELECT user_id,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    min(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) // 7 AS first_week,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS errs,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS outcome
        |  FROM events GROUP BY user_id),
        |users AS (SELECT *, CASE WHEN 5 * errs > n_events THEN 1 ELSE 0 END
        |  AS treated FROM u0),
        |cells AS (SELECT n_events // 20 AS act_bin, first_week, treated,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(outcome) AS BIGINT) AS s
        |  FROM users GROUP BY 1, 2, 3),
        |bins AS (SELECT act_bin, first_week,
        |    max(CASE WHEN treated = 1 THEN n END) AS n_t,
        |    max(CASE WHEN treated = 0 THEN n END) AS n_c,
        |    max(CASE WHEN treated = 1 THEN s END) AS s_t,
        |    max(CASE WHEN treated = 0 THEN s END) AS s_c
        |  FROM cells GROUP BY 1, 2),
        |matched AS (SELECT n_t, n_c,
        |    CAST(n_t AS HUGEINT) * (CAST(s_t AS HUGEINT) * 1000000 // n_t
        |      - CAST(s_c AS HUGEINT) * 1000000 // n_c) AS wterm
        |  FROM bins WHERE n_t IS NOT NULL AND n_c IS NOT NULL),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_bins_total FROM bins),
        |mt AS (SELECT CAST(count(*) AS BIGINT) AS n_bins_matched,
        |    CAST(coalesce(sum(n_t), 0) AS BIGINT) AS n_treated_matched,
        |    CAST(coalesce(sum(n_c), 0) AS BIGINT) AS n_control_matched,
        |    sum(wterm) AS num FROM matched)
        |SELECT n_bins_total, n_bins_matched, n_treated_matched, n_control_matched,
        |  CAST(num // nullif(n_treated_matched, 0) AS BIGINT) AS att_cents_e6
        |FROM tot CROSS JOIN mt""".stripMargin,

    // Tukey-fence replay: exact 4x quartiles, 8x fences, integer gate.
    "q_tukey_fences" ->
      """WITH ev AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v
        |  FROM events),
        |f AS (SELECT event_type,
        |    CAST(4 * quantile_cont(v, 0.25) AS BIGINT) AS q1_4x,
        |    CAST(4 * quantile_cont(v, 0.75) AS BIGINT) AS q3_4x
        |  FROM ev GROUP BY event_type),
        |f2 AS (SELECT *, 2 * q1_4x - 3 * (q3_4x - q1_4x) AS lo8,
        |    2 * q3_4x + 3 * (q3_4x - q1_4x) AS hi8 FROM f)
        |SELECT ev.event_type, q1_4x, q3_4x, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN 8 * v < lo8 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN 8 * v > hi8 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM ev JOIN f2 ON ev.event_type = f2.event_type
        |GROUP BY ev.event_type, q1_4x, q3_4x ORDER BY ev.event_type""".stripMargin,

    // Octile Q-Q replay: dyadic-exact 8x quantile arrays per arm.
    "q_qq_octiles" ->
      """WITH ev AS (SELECT CASE WHEN (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
        |      + 4) % 7 >= 5 THEN 1 ELSE 0 END AS g,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |q AS (SELECT g, list_transform(
        |    quantile_cont(v, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]),
        |    x -> CAST(8 * x AS BIGINT)) AS qs
        |  FROM ev GROUP BY g),
        |w AS (SELECT max(CASE WHEN g = 1 THEN qs END) AS qw,
        |    max(CASE WHEN g = 0 THEN qs END) AS qd FROM q),
        |x AS (SELECT unnest(range(1, 8)) AS octile FROM w)
        |SELECT octile, qw[CAST(octile AS INT)] AS weekend_8x,
        |  qd[CAST(octile AS INT)] AS weekday_8x,
        |  qw[CAST(octile AS INT)] - qd[CAST(octile AS INT)] AS gap_8x
        |FROM x CROSS JOIN w ORDER BY octile""".stripMargin,

    // Vocab-tail replay: type counts, per-cut ordered LIMIT sums.
    "q_vocab_tail" ->
      s"""WITH counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(${wordsSql("lower(text)")}) AS tok FROM documents)
         |  GROUP BY tok),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
         |    CAST(count(*) AS BIGINT) AS n_types FROM counts),
         |c100 AS (SELECT CAST(100 AS BIGINT) AS top_k, CAST(sum(cnt) AS BIGINT)
         |    AS covered FROM (SELECT cnt FROM counts ORDER BY cnt DESC, tok LIMIT 100)),
         |c1k AS (SELECT CAST(1000 AS BIGINT), CAST(sum(cnt) AS BIGINT)
         |  FROM (SELECT cnt FROM counts ORDER BY cnt DESC, tok LIMIT 1000)),
         |c10k AS (SELECT CAST(10000 AS BIGINT), CAST(sum(cnt) AS BIGINT)
         |  FROM (SELECT cnt FROM counts ORDER BY cnt DESC, tok LIMIT 10000)),
         |u AS (SELECT * FROM c100 UNION ALL SELECT * FROM c1k
         |  UNION ALL SELECT * FROM c10k)
         |SELECT top_k, covered, total_tokens, n_types,
         |  CAST(covered * 1000000 // total_tokens AS BIGINT) AS coverage_e6
         |FROM u CROSS JOIN tot ORDER BY top_k""".stripMargin,

    // 3-fold CV replay: one materialized full count table, three
    // fold-filtered training chains, held-out scoring per fold.
    "q_cross_val" -> {
      def fold(k: Int): String =
        s"""cv${k}_pc0 AS MATERIALIZED (SELECT * FROM pcall WHERE doc_id % 3 <> $k),
           |${pcptChain(s"cv${k}_", s"cv${k}_pc0")},
           |cv${k}_fs AS (SELECT c.doc_id, c.y,
           |    CAST(sum(c.n * coalesce(a.w, 0)) AS BIGINT)
           |      + (SELECT b FROM cv${k}_b3) AS s
           |  FROM pcall c LEFT JOIN cv${k}_w3 a USING (bucket)
           |  WHERE c.doc_id % 3 = $k GROUP BY c.doc_id, c.y),
           |cv${k}_r AS (SELECT CAST($k AS BIGINT) AS fold,
           |    CAST(count(*) AS BIGINT) AS n_test,
           |    CAST(sum(CASE WHEN (s > 0 AND y = 1) OR (s <= 0 AND y = -1)
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_correct FROM cv${k}_fs)""".stripMargin
      s"""WITH pcall AS MATERIALIZED (
         |${pcptCounts("documents")}),
         |${fold(0)},
         |${fold(1)},
         |${fold(2)},
         |u AS (SELECT * FROM cv0_r UNION ALL SELECT * FROM cv1_r
         |  UNION ALL SELECT * FROM cv2_r)
         |SELECT fold, n_test, n_correct,
         |  CAST(n_correct * 1000000 // n_test AS BIGINT) AS acc_e6
         |FROM u ORDER BY fold""".stripMargin
    },

    // L1-centroid replay: e6-floored components, exact 2x medians per
    // (label, dim) cell.
    "q_l1_centroid" ->
      """WITH c AS (SELECT label, CAST(i AS BIGINT) AS dim,
        |    CAST(floor(CAST(v[CAST(i AS INT) + 1] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
        |  FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) e,
        |  LATERAL (SELECT unnest(range(8)) AS i) p)
        |SELECT label, dim, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(2 * quantile_cont(q, 0.5) AS BIGINT) AS med_2x_e6
        |FROM c GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    // Robust-z replay: nested 2x-median tricks, integer gate, top-3.
    "q_robust_z" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |med AS (SELECT CAST(2 * quantile_cont(x, 0.5) AS BIGINT) AS m2 FROM daily),
        |dev AS (SELECT d, x, abs(2 * x - m2) AS dev2 FROM daily CROSS JOIN med),
        |mad AS (SELECT CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4 FROM dev)
        |SELECT d, x,
        |  CAST(1349 * dev2 * 1000 // nullif(mad4, 0) AS BIGINT) AS z_e6,
        |  1349 * dev2 > 3500 * mad4 AS is_outlier
        |FROM dev CROSS JOIN mad ORDER BY z_e6 DESC, d LIMIT 3""".stripMargin,

    // Uplift replay: the same user reduce, per-(bin, arm) cells,
    // both-arm gap at e6.
    "q_uplift" ->
      """WITH u0 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS errs,
        |    max(CASE WHEN event_type = 'purchase' AND value >= 200.0
        |      THEN 1 ELSE 0 END) AS converted
        |  FROM events GROUP BY user_id),
        |users AS (SELECT *, CASE WHEN 5 * errs > n_events THEN 1 ELSE 0 END
        |  AS treated FROM u0),
        |cells AS (SELECT least(n_events // 25, 8) AS act_bin, treated,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(converted) AS BIGINT) AS k
        |  FROM users GROUP BY 1, 2),
        |bins AS (SELECT act_bin,
        |    max(CASE WHEN treated = 1 THEN n END) AS n_t,
        |    max(CASE WHEN treated = 1 THEN k END) AS k_t,
        |    max(CASE WHEN treated = 0 THEN n END) AS n_c,
        |    max(CASE WHEN treated = 0 THEN k END) AS k_c
        |  FROM cells GROUP BY 1)
        |SELECT act_bin, n_t, n_c,
        |  CAST(k_t * 1000000 // n_t AS BIGINT) AS conv_t_e6,
        |  CAST(k_c * 1000000 // n_c AS BIGINT) AS conv_c_e6,
        |  CAST(k_t * 1000000 // n_t - k_c * 1000000 // n_c AS BIGINT) AS uplift_e6
        |FROM bins WHERE n_t IS NOT NULL AND n_c IS NOT NULL
        |ORDER BY act_bin""".stripMargin,

    // Hodges-Lehmann replay: all weekday x weekend day pairs, exact
    // 2x median of the integer differences.
    "q_hodges_lehmann" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |t AS (SELECT x, CASE WHEN (d + 4) % 7 >= 5 THEN 1 ELSE 0 END AS wknd
        |  FROM daily),
        |diffs AS (SELECT a.x - b.x AS diff
        |  FROM (SELECT x FROM t WHERE wknd = 1) a
        |  CROSS JOIN (SELECT x FROM t WHERE wknd = 0) b)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(2 * quantile_cont(diff, 0.5) AS BIGINT) AS hl_2x
        |FROM diffs""".stripMargin,

    // Kappa replay: the shared training chain, one scored pass, the
    // exact chance-corrected rational.
    "q_kappa" ->
      s"""WITH $pcptCtes,
         |fs AS (SELECT c.doc_id, c.y,
         |    CAST(sum(c.n * coalesce(w3.w, 0)) AS BIGINT) + (SELECT b FROM b3) AS s
         |  FROM pc0 c LEFT JOIN w3 USING (bucket) GROUP BY c.doc_id, c.y),
         |cnt AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(CASE WHEN (s > 0 AND y = 1) OR (s <= 0 AND y = -1)
         |      THEN 1 ELSE 0 END) AS HUGEINT) AS agree,
         |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS a1,
         |    CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS HUGEINT) AS b1
         |  FROM fs)
         |SELECT CAST(n AS BIGINT) AS n_docs, CAST(agree AS BIGINT) AS n_agree,
         |  CAST((agree * n - a1 * b1 - (n - a1) * (n - b1)) * 1000000
         |    // (n * n - a1 * b1 - (n - a1) * (n - b1)) AS BIGINT) AS kappa_e6
         |FROM cnt""".stripMargin,

    // MCC replay: four exact cells, the identical IEEE four-sqrt
    // denominator floored at e6.
    "q_mcc" ->
      s"""WITH $pcptCtes,
         |fs AS (SELECT c.doc_id, c.y,
         |    CAST(sum(c.n * coalesce(w3.w, 0)) AS BIGINT) + (SELECT b FROM b3) AS s
         |  FROM pc0 c LEFT JOIN w3 USING (bucket) GROUP BY c.doc_id, c.y),
         |cells AS (SELECT
         |    CAST(sum(CASE WHEN y = 1 AND s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN y = -1 AND s <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |    CAST(sum(CASE WHEN y = -1 AND s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN y = 1 AND s <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM fs)
         |SELECT tp, tn, fp, fn,
         |  CAST(floor(1000000.0
         |    * (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
         |       - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
         |    / nullif(sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE))
         |       * sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE)), 0.0))
         |    AS BIGINT) AS mcc_e6
         |FROM cells""".stripMargin,

    // Cronbach replay: zero-filled (day x type) grid, n^2-scaled
    // integer variances, the exact alpha rational.
    "q_cronbach" ->
      """WITH counts AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    event_type, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |sp AS (SELECT d, event_type FROM (SELECT DISTINCT d FROM counts)
        |  CROSS JOIN (SELECT DISTINCT event_type FROM counts)),
        |grid AS (SELECT sp.d, sp.event_type, coalesce(counts.x, 0) AS x
        |  FROM sp LEFT JOIN counts ON sp.d = counts.d
        |    AND sp.event_type = counts.event_type),
        |vi AS (SELECT CAST(count(*) AS BIGINT) AS k, max(n) AS n,
        |    CAST(sum(v) AS HUGEINT) AS sum_vi FROM (
        |    SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |      CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * x)
        |        - CAST(sum(x) AS HUGEINT) * sum(x) AS v
        |    FROM grid GROUP BY event_type)),
        |vt AS (SELECT CAST(count(*) AS HUGEINT) * sum(CAST(t AS HUGEINT) * t)
        |    - CAST(sum(t) AS HUGEINT) * sum(t) AS v_total FROM (
        |    SELECT d, CAST(sum(x) AS BIGINT) AS t FROM grid GROUP BY d))
        |SELECT CAST(n AS BIGINT) AS n_days, k,
        |  CAST(k * (v_total - sum_vi) * 1000000
        |    // ((k - 1) * v_total) AS BIGINT) AS alpha_e6
        |FROM vi CROSS JOIN vt""".stripMargin,

    // Partial-correlation replay: exact sufficient stats, identical
    // IEEE formula floored at e6.
    "q_partial_corr" -> {
      def r(ab: String, a: String, b: String): String =
        s"""(CAST(n * s$ab - s$a * s$b AS DOUBLE)
           | / (sqrt(CAST(n * s$a$a - s$a * s$a AS DOUBLE))
           |    * sqrt(CAST(n * s$b$b - s$b * s$b AS DOUBLE))))""".stripMargin
      val (rxy, rxz, rzy) = (r("xy", "x", "y"), r("xz", "x", "z"), r("yz", "y", "z"))
      s"""WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS HUGEINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS HUGEINT) AS y,
         |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS HUGEINT) AS z
         |  FROM events GROUP BY 1),
         |s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |    sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
         |    sum(x * y) AS sxy, sum(x * z) AS sxz, sum(y * z) AS syz,
         |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(z * z) AS szz
         |  FROM daily)
         |SELECT CAST(n AS BIGINT) AS n_days,
         |  CAST(floor(1000000.0 * $rxy) AS BIGINT) AS rxy_e6,
         |  CAST(floor(1000000.0 * $rxz) AS BIGINT) AS rxz_e6,
         |  CAST(floor(1000000.0 * $rzy) AS BIGINT) AS rzy_e6,
         |  CAST(floor(1000000.0 * ($rxy - $rxz * $rzy)
         |    / sqrt((1.0 - $rxz * $rxz) * (1.0 - $rzy * $rzy))) AS BIGINT)
         |    AS partial_e6
         |FROM s""".stripMargin
    },

    // Eccentricity replay: q_closeness's BFS CTE chain (same fixpoint
    // guard), readout = per-root max distance + scalar radius/diameter
    // over the 10-root sample.
    "q_eccentricity" -> {
      s"""WITH $partEdgeCtes,
         |allnodes AS (SELECT DISTINCT src AS node FROM bu),
         |roots AS (SELECT node FROM allnodes ORDER BY node LIMIT 10),
         |ed0 AS (SELECT node AS root, node, CAST(0 AS BIGINT) AS d FROM roots),
         |${rootedBfsCtes("ed", 8)},
         |fixguard AS (SELECT CASE WHEN (SELECT count(*) FROM ed8)
         |    = (SELECT count(*) FROM ed7) THEN 1 ELSE 0 END AS at_fixpoint),
         |pr AS (SELECT root, CAST(count(*) AS BIGINT) AS n_reached,
         |    CAST(CASE WHEN at_fixpoint = 1 THEN max(d)
         |      ELSE error('q_eccentricity oracle: ed8 <> ed7, unroll depth insufficient')
         |    END AS BIGINT) AS ecc
         |  FROM ed8 CROSS JOIN fixguard WHERE d > 0 GROUP BY root, at_fixpoint)
         |SELECT root, n_reached, ecc,
         |  (SELECT min(ecc) FROM pr) AS radius_sample,
         |  (SELECT max(ecc) FROM pr) AS diameter_sample
         |FROM pr ORDER BY root""".stripMargin
    },

    // Theil–Sen replay: calendar-bounded pair join, e6-floored slopes,
    // 2×-quantile integer medians for slope and intercept.
    "q_theil_sen" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS x,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |d0 AS (SELECT min(x) AS x0 FROM daily),
        |d AS (SELECT x - x0 AS x, y FROM daily CROSS JOIN d0),
        |p AS (SELECT (b.y - a.y) * 1000000 // (b.x - a.x) AS slope_e6
        |  FROM d a JOIN d b ON a.x < b.x),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(2 * quantile_cont(slope_e6, 0.5) AS BIGINT) AS slope2_e6 FROM p),
        |r AS (SELECT n_pairs, slope2_e6,
        |    y * 1000000 - (slope2_e6 // 2) * x AS r_e6 FROM d CROSS JOIN s)
        |SELECT CAST(count(*) AS BIGINT) AS n_days, n_pairs, slope2_e6,
        |  CAST(2 * quantile_cont(r_e6, 0.5) AS BIGINT) AS icept2_e6
        |FROM r GROUP BY n_pairs, slope2_e6""".stripMargin,

    // t-closeness replay: (QI, bucket) counts vs global, cross-multiplied
    // cumulative gaps on the shared bucket grid, EMD at e6.
    "q_tcloseness" ->
      """WITH base AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS b FROM customer),
        |gb AS (SELECT seg, nat, b, CAST(count(*) AS BIGINT) AS cg FROM base GROUP BY 1, 2, 3),
        |gbk AS (SELECT b, CAST(count(*) AS BIGINT) AS ca FROM base GROUP BY b),
        |gc AS (SELECT x.b AS b, CAST(sum(y.ca) AS BIGINT) AS cum_all
        |  FROM gbk x JOIN gbk y ON y.b <= x.b GROUP BY x.b),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM base),
        |nbk AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM gbk),
        |grid AS (SELECT g.seg, g.nat, gl.b, coalesce(gb.cg, 0) AS cg
        |  FROM (SELECT DISTINCT seg, nat FROM gb) g CROSS JOIN gbk gl
        |  LEFT JOIN gb ON gb.seg = g.seg AND gb.nat = g.nat AND gb.b = gl.b),
        |cum AS (SELECT seg, nat, b,
        |    CAST(sum(cg) OVER (PARTITION BY seg, nat ORDER BY b) AS BIGINT) AS cum_g
        |  FROM grid),
        |ng AS (SELECT seg, nat, CAST(sum(cg) AS BIGINT) AS n_g FROM gb GROUP BY 1, 2),
        |agg AS (SELECT c.seg, c.nat, ng.n_g,
        |    CAST(sum(abs(c.cum_g * n_all - gc.cum_all * ng.n_g)) * 1000000
        |      // (ng.n_g * n_all * (n_b - 1)) AS BIGINT) AS t_e6
        |  FROM cum c JOIN gc USING (b)
        |  JOIN ng ON ng.seg = c.seg AND ng.nat = c.nat
        |  CROSS JOIN na CROSS JOIN nbk
        |  GROUP BY c.seg, c.nat, ng.n_g, n_all, n_b)
        |SELECT seg, nat, n_g, t_e6, t_e6 > 200000 AS leaks
        |FROM agg ORDER BY seg, nat""".stripMargin,

    // HHI replay: integer-cents revenue, HUGEINT share math at e6.
    "q_hhi" ->
      """WITH rev AS (SELECT n_regionkey AS region, n_nationkey AS nation,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS HUGEINT) AS rev
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey GROUP BY 1, 2)
        |SELECT region, CAST(count(*) AS BIGINT) AS n_nations,
        |  CAST(sum(rev * rev) * 1000000 // (sum(rev) * sum(rev)) AS BIGINT) AS hhi_e6,
        |  CAST(max(rev) * 1000000 // sum(rev) AS BIGINT) AS top_share_e6,
        |  CAST(sum(rev) * sum(rev) * 1000000 // sum(rev * rev) AS BIGINT) AS effective_n_e6
        |FROM rev GROUP BY region ORDER BY region""".stripMargin,

    // Odds-ratio replay: four conditional counts per region, doubled-cell
    // Haldane odds ratio, guarded risk ratio and Yule's Q.
    "q_odds_ratio" ->
      """WITH urg AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |cust AS (SELECT n_regionkey AS region,
        |    (c_mktsegment = 'BUILDING') AS expf,
        |    CASE WHEN urg.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS outc
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  LEFT JOIN urg USING (c_custkey)),
        |t AS (SELECT region,
        |    CAST(sum(CASE WHEN expf AND outc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN expf AND outc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN NOT expf AND outc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN NOT expf AND outc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM cust GROUP BY region)
        |SELECT region, a, b, c, d,
        |  CAST((2*a+1) * (2*d+1) * 1000000 // ((2*b+1) * (2*c+1)) AS BIGINT) AS or_haldane_e6,
        |  CAST(CASE WHEN c > 0 AND a + b > 0
        |    THEN a * (c + d) * 1000000 // (c * (a + b)) END AS BIGINT) AS rr_e6,
        |  CAST(CASE WHEN a*d + b*c > 0
        |    THEN (a*d - b*c) * 1000000 // (a*d + b*c) END AS BIGINT) AS yule_q_e6
        |FROM t ORDER BY region""".stripMargin,

    // Weighted Slope One replay: truncated-mean cents ratings, deviation
    // sums with co-rater counts, integer prediction for unrated probes.
    "q_slope_one" ->
      """WITH r AS (SELECT user_id, event_type AS item,
        |    sum(CAST(round(value * 100, 0) AS BIGINT)) // count(*) AS r
        |  FROM events GROUP BY 1, 2),
        |dev AS (SELECT x.item AS j, y.item AS i,
        |    CAST(sum(x.r - y.r) AS BIGINT) AS s_ji, CAST(count(*) AS BIGINT) AS c_ji
        |  FROM r x JOIN r y ON x.user_id = y.user_id AND x.item <> y.item
        |  GROUP BY 1, 2),
        |probes AS (SELECT * FROM r WHERE user_id < 20),
        |items AS (SELECT DISTINCT item FROM r),
        |targets AS (SELECT u.user_id, items.item AS j, r.r AS actual
        |  FROM (SELECT DISTINCT user_id FROM probes) u CROSS JOIN items
        |  LEFT JOIN r ON r.user_id = u.user_id AND r.item = items.item)
        |SELECT un.user_id, un.j AS item, CAST(count(*) AS BIGINT) AS n_items_used,
        |  CAST(sum(d.s_ji + p.r * d.c_ji) * 100 // sum(d.c_ji) AS BIGINT) AS pred_cents_e2,
        |  CAST(un.actual * 100 AS BIGINT) AS actual_cents_e2
        |FROM targets un JOIN probes p ON p.user_id = un.user_id AND p.item <> un.j
        |JOIN dev d ON d.j = un.j AND d.i = p.item
        |GROUP BY 1, 2, un.actual ORDER BY 1, 2""".stripMargin,

    // RBO replay: two top-20 rankings, overlap per depth, dyadic-exact
    // weights over the common denominator lcm(1..20)·2^20.
    "q_rbo" ->
      """WITH li AS (SELECT l_partkey AS pk,
        |    sum(CAST(round(l_quantity, 0) AS BIGINT)) AS qty,
        |    sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rev
        |  FROM lineitem GROUP BY 1),
        |rx AS (SELECT pk, rkx FROM (SELECT pk,
        |    CAST(row_number() OVER (ORDER BY qty DESC, pk) AS BIGINT) AS rkx FROM li)
        |  WHERE rkx <= 20),
        |ry AS (SELECT pk, rky FROM (SELECT pk,
        |    CAST(row_number() OVER (ORDER BY rev DESC, pk) AS BIGINT) AS rky FROM li)
        |  WHERE rky <= 20),
        |both_r AS (SELECT coalesce(rx.pk, ry.pk) AS pk, rkx, rky
        |  FROM rx FULL OUTER JOIN ry ON rx.pk = ry.pk),
        |spine AS (SELECT unnest(range(1, 21)) AS d),
        |ad AS (SELECT d, CAST(count(*) AS BIGINT) AS a_d
        |  FROM both_r CROSS JOIN spine WHERE rkx <= d AND rky <= d GROUP BY d),
        |terms AS (SELECT CAST(a_d AS HUGEINT) *
        |    ((CAST(232792560 AS HUGEINT) * 1048576)
        |      // (CAST(pow(2, d) AS HUGEINT) * d)) AS term FROM ad)
        |SELECT CAST(sum(term) * 1000000
        |  // (CAST(232792560 AS HUGEINT) * 1048576) AS BIGINT) AS rbo_e6
        |FROM terms""".stripMargin,

    // Readability replay: vowel-group syllables ('g' flag — DuckDB
    // replaces only the first match by default), doc-as-sentence, e3
    // truncating panel.
    "q_readability" ->
      s"""WITH t AS (SELECT lang,
         |    CAST(len(${wordsSql("lower(text)")}) AS BIGINT) AS w,
         |    CAST(length(regexp_replace(lower(text), '[aeiouy]+', 'V', 'g'))
         |      - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g')) AS BIGINT) AS syl
         |  FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(w) AS BIGINT) AS words, CAST(sum(syl) AS BIGINT) AS syllables,
         |  CAST(390 * sum(w) // count(*) AS BIGINT) AS wps_x039_e3,
         |  CAST(11800 * sum(syl) // sum(w) AS BIGINT) AS spw_x118_e3,
         |  CAST(390 * sum(w) // count(*) + 11800 * sum(syl) // sum(w) - 15590 AS BIGINT)
         |    AS fk_grade_e3
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin,

    // Greedy k-center replay: 4 unrolled farthest-point steps, each
    // MATERIALIZED (the dtw textual-expansion lesson), e6-floored
    // squared L2 with vec_id tiebreaks.
    "q_kcenter" -> {
      def d2(v: String, c: String): String =
        s"""CAST(floor((${dotSql(v, v)} - 2.0 * ${dotSql(v, c)}
           | + ${dotSql(c, c)}) * 1000000.0) AS BIGINT)""".stripMargin
      def step(i: Int): String =
        s"""c$i AS (SELECT vec_id AS c, dm FROM d${i - 1} ORDER BY dm DESC, vec_id LIMIT 1),
           |v$i AS (SELECT v.v AS cv FROM v JOIN c$i ON v.vec_id = c$i.c),
           |d$i AS MATERIALIZED (SELECT d${i - 1}.vec_id, d${i - 1}.v,
           |  least(d${i - 1}.dm, ${d2(s"d${i - 1}.v", "cv")}) AS dm
           |  FROM d${i - 1} CROSS JOIN v$i)""".stripMargin
      s"""WITH v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |s1 AS (SELECT vec_id AS c, v AS cv FROM v ORDER BY vec_id LIMIT 1),
         |d1 AS MATERIALIZED (SELECT v.vec_id, v.v, ${d2("v.v", "cv")} AS dm
         |  FROM v CROSS JOIN s1),
         |${(2 to 5).map(step).mkString(",\n")},
         |radius AS (SELECT CAST(max(dm) AS BIGINT) AS radius_e6 FROM d5),
         |sel AS (
         |  SELECT CAST(1 AS BIGINT) AS sel_rank, c AS vec_id, CAST(0 AS BIGINT) AS sel_d2_e6 FROM s1
         |  ${(2 to 5).map(i => s"UNION ALL SELECT CAST($i AS BIGINT), c, CAST(dm AS BIGINT) FROM c$i").mkString("\n  ")})
         |SELECT sel_rank, vec_id, sel_d2_e6, radius_e6
         |FROM sel CROSS JOIN radius ORDER BY sel_rank""".stripMargin
    },

    // SCC replay: above-mean nation-trade edges, recursive transitive
    // closure, min over the mutually-reachable set, component sizes.
    "q_scc" ->
      """WITH RECURSIVE pairs AS (SELECT s_nationkey AS src, c_nationkey AS dst,
        |    sum(CAST(round(l_quantity, 0) AS BIGINT)) AS qty
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2 HAVING s_nationkey <> c_nationkey),
        |tot AS (SELECT sum(qty) AS sq, CAST(count(*) AS BIGINT) AS np FROM pairs),
        |e AS MATERIALIZED (SELECT src, dst FROM pairs CROSS JOIN tot
        |  WHERE qty * np > sq),
        |rr AS (SELECT src, dst FROM e
        |  UNION
        |  SELECT rr.src, e.dst FROM rr JOIN e ON rr.dst = e.src),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t),
        |mut AS (SELECT x.src AS node, x.dst AS peer
        |  FROM rr x JOIN rr y ON x.src = y.dst AND x.dst = y.src),
        |s AS (SELECT n.node, min(m.peer) AS mp
        |  FROM nodes n LEFT JOIN mut m ON m.node = n.node GROUP BY n.node),
        |scc AS (SELECT node,
        |  CASE WHEN mp IS NULL THEN node ELSE least(mp, node) END AS scc_id FROM s)
        |SELECT scc.node, scc.scc_id, CAST(z.cnt AS BIGINT) AS scc_size
        |FROM scc JOIN (SELECT scc_id, count(*) AS cnt FROM scc GROUP BY 1) z
        |  USING (scc_id)
        |ORDER BY node""".stripMargin,

    // Allen-relations replay: identical endpoint CASE ladder over
    // user-day min/max micros vs the fixed 10:00-14:00 reference.
    "q_allen" ->
      """WITH iv AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS s1,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS e1
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT s1, e1,
        |    day * 86400000000 + 36000000000 AS s2,
        |    day * 86400000000 + 50400000000 AS e2 FROM iv),
        |rel AS (SELECT case
        |    when s1 = s2 and e1 = e2 then 'equals'
        |    when e1 < s2 then 'before'
        |    when e2 < s1 then 'after'
        |    when e1 = s2 then 'meets'
        |    when e2 = s1 then 'met_by'
        |    when s1 = s2 and e1 < e2 then 'starts'
        |    when s1 = s2 and e1 > e2 then 'started_by'
        |    when e1 = e2 and s1 > s2 then 'finishes'
        |    when e1 = e2 and s1 < s2 then 'finished_by'
        |    when s1 > s2 and e1 < e2 then 'during'
        |    when s1 < s2 and e1 > e2 then 'contains'
        |    when s1 < s2 and e1 < e2 then 'overlaps'
        |    else 'overlapped_by' end AS relation FROM r)
        |SELECT relation, CAST(count(*) AS BIGINT) AS n
        |FROM rel GROUP BY relation ORDER BY relation""".stripMargin,

    // ERR replay: the ndcg retrieval CTE graded (3 = match, 1 =
    // adjacent label), top-5 pivoted to g1..g5, the dyadic cascade
    // closed-form over denominator 8^5 * 60 = 1966080.
    "q_err" -> {
      def rn(i: Int) = s"(case g$i when 3 then 7 when 1 then 1 else 0 end)"
      s"""WITH e0 AS (SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nrm AS (SELECT vec_id, label, ${normSql("v")} AS v FROM e0),
         |sc AS (SELECT q.vec_id AS query_id, q.label AS true_label,
         |         c.vec_id AS neighbor_id, c.label AS n_label, ${dotSql("q.v", "c.v")} AS cos
         |       FROM nrm c JOIN (SELECT * FROM nrm WHERE vec_id < 50) q
         |         ON c.vec_id <> q.vec_id),
         |top AS (SELECT *, case when n_label = true_label then 3
         |    when abs(n_label - true_label) = 1 then 1 else 0 end AS g FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM sc) WHERE rnk <= 5),
         |piv AS (SELECT query_id,
         |    ${(1 to 5).map(i =>
               s"max(CASE WHEN rnk = $i THEN g ELSE -1 END) AS g$i").mkString(",\n    ")}
         |  FROM top GROUP BY query_id)
         |SELECT query_id, CAST((
         |    ${rn(1)} * 60 * 4096
         |    + (8 - ${rn(1)}) * ${rn(2)} * 30 * 512
         |    + (8 - ${rn(1)}) * (8 - ${rn(2)}) * ${rn(3)} * 20 * 64
         |    + (8 - ${rn(1)}) * (8 - ${rn(2)}) * (8 - ${rn(3)}) * ${rn(4)} * 15 * 8
         |    + (8 - ${rn(1)}) * (8 - ${rn(2)}) * (8 - ${rn(3)}) * (8 - ${rn(4)}) * ${rn(5)} * 12
         |  ) * CAST(1000000 AS BIGINT) // 1966080 AS BIGINT) AS err_e6
         |FROM piv ORDER BY query_id""".stripMargin
    },

    // Borda replay: one (part -> qty, rev, orders) aggregate, three
    // top-50 rankings, truncated-Borda fusion, fused top-20.
    "q_borda" ->
      """WITH li AS (SELECT l_partkey AS pk,
        |    sum(CAST(round(l_quantity, 0) AS BIGINT)) AS qty,
        |    sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rev,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nord
        |  FROM lineitem GROUP BY 1),
        |rq AS (SELECT pk, r_qty FROM (SELECT pk,
        |    CAST(row_number() OVER (ORDER BY qty DESC, pk) AS BIGINT) AS r_qty FROM li)
        |  WHERE r_qty <= 50),
        |rr AS (SELECT pk, r_rev FROM (SELECT pk,
        |    CAST(row_number() OVER (ORDER BY rev DESC, pk) AS BIGINT) AS r_rev FROM li)
        |  WHERE r_rev <= 50),
        |ro AS (SELECT pk, r_ord FROM (SELECT pk,
        |    CAST(row_number() OVER (ORDER BY nord DESC, pk) AS BIGINT) AS r_ord FROM li)
        |  WHERE r_ord <= 50),
        |fused AS (SELECT coalesce(rq.pk, rr.pk, ro.pk) AS pk, r_qty, r_rev, r_ord,
        |    coalesce(51 - r_qty, 0) + coalesce(51 - r_rev, 0) + coalesce(51 - r_ord, 0) AS borda
        |  FROM rq FULL OUTER JOIN rr ON rq.pk = rr.pk
        |  FULL OUTER JOIN ro ON coalesce(rq.pk, rr.pk) = ro.pk)
        |SELECT pk, r_qty, r_rev, r_ord, CAST(borda AS BIGINT) AS borda
        |FROM fused ORDER BY borda DESC, pk LIMIT 20""".stripMargin,

    // Huber replay: exact-integer OLS, IEEE sqrt scale, e6 weights,
    // HUGEINT weighted re-fit — expressions identical to the Spark side.
    "q_huber" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS xd,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |d0 AS (SELECT min(xd) AS x0 FROM daily),
        |d AS (SELECT xd - x0 AS x, y FROM daily CROSS JOIN d0),
        |s1 AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM d),
        |f1 AS (SELECT n,
        |    (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS slope_ols_e6,
        |    ((sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx) * 1000000)
        |      // (n * (n * sxx - sx * sx)) AS icept_ols_e6
        |  FROM s1),
        |wr AS (SELECT x, y,
        |    y * 1000000 - (slope_ols_e6 * x + icept_ols_e6) AS r_e6,
        |    slope_ols_e6, icept_ols_e6 FROM d CROSS JOIN f1),
        |sg AS (SELECT CAST(floor(1345.0 * sqrt(
        |    CAST(sum(CAST(r_e6 AS HUGEINT) * r_e6) AS DOUBLE)
        |    / (count(1) - 2)) / 1000.0) AS BIGINT) AS k_e6 FROM wr),
        |w AS (SELECT x, y, slope_ols_e6, icept_ols_e6,
        |    coalesce(least(CAST(1000000 AS BIGINT),
        |      k_e6 * 1000000 // abs(nullif(r_e6, 0))), 1000000) AS w_e6
        |  FROM wr CROSS JOIN sg),
        |s2 AS (SELECT sum(CAST(w_e6 AS HUGEINT)) AS sw,
        |    sum(CAST(w_e6 AS HUGEINT) * x) AS swx,
        |    sum(CAST(w_e6 AS HUGEINT) * y) AS swy,
        |    sum(CAST(w_e6 AS HUGEINT) * x * x) AS swxx,
        |    sum(CAST(w_e6 AS HUGEINT) * x * y) AS swxy,
        |    CAST(sum(CASE WHEN w_e6 < 1000000 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_downweighted,
        |    CAST(count(*) AS BIGINT) AS n_days,
        |    max(slope_ols_e6) AS slope_ols_e6, max(icept_ols_e6) AS icept_ols_e6
        |  FROM w)
        |SELECT n_days, n_downweighted,
        |  CAST(slope_ols_e6 AS BIGINT) AS slope_ols_e6,
        |  CAST(icept_ols_e6 AS BIGINT) AS icept_ols_e6,
        |  CAST((sw * swxy - swx * swy) * 1000000
        |    // (sw * swxx - swx * swx) AS BIGINT) AS slope_huber_e6,
        |  CAST(((swy * (sw * swxx - swx * swx) - (sw * swxy - swx * swy) * swx)
        |    * 1000000) // (sw * (sw * swxx - swx * swx)) AS BIGINT) AS icept_huber_e6
        |FROM s2""".stripMargin,

    // Median-polish replay: 16x pre-scale, 4 alternating median sweeps
    // (quantile_cont over ≤5-element sets is an exactly-representable
    // double at this scaling), residual + fitted in 16ths of a cent.
    "q_median_polish" ->
      """WITH cells AS (SELECT n_regionkey AS region, c_mktsegment AS seg,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |t0 AS (SELECT region, seg, v * 16 AS r FROM cells),
        |r1m AS (SELECT region, CAST(quantile_cont(r, 0.5) AS BIGINT) AS rm FROM t0 GROUP BY region),
        |t1 AS (SELECT t0.region, seg, r - rm AS r FROM t0 JOIN r1m ON t0.region = r1m.region),
        |c1m AS (SELECT seg, CAST(quantile_cont(r, 0.5) AS BIGINT) AS cm FROM t1 GROUP BY seg),
        |t2 AS (SELECT region, t1.seg, r - cm AS r FROM t1 JOIN c1m ON t1.seg = c1m.seg),
        |r2m AS (SELECT region, CAST(quantile_cont(r, 0.5) AS BIGINT) AS rm FROM t2 GROUP BY region),
        |t3 AS (SELECT t2.region, seg, r - rm AS r FROM t2 JOIN r2m ON t2.region = r2m.region),
        |c2m AS (SELECT seg, CAST(quantile_cont(r, 0.5) AS BIGINT) AS cm FROM t3 GROUP BY seg),
        |t4 AS (SELECT region, t3.seg, r - cm AS r FROM t3 JOIN c2m ON t3.seg = c2m.seg)
        |SELECT c.region, c.seg, c.v AS cents, t4.r AS resid_c16,
        |  c.v * 16 - t4.r AS fitted_c16
        |FROM cells c JOIN t4 ON c.region = t4.region AND c.seg = t4.seg
        |ORDER BY c.region, c.seg""".stripMargin,

    // Chapman capture-recapture replay: weekday click/purchase lists,
    // bias-corrected Lincoln-Petersen in integers.
    "q_capture_recapture" ->
      """WITH u AS (SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) % 7 AS dow,
        |    user_id,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
        |  FROM events GROUP BY 1, 2)
        |SELECT dow, CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
        |  CAST(sum(c1 * c2) AS BIGINT) AS m,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_observed,
        |  CAST((sum(c1) + 1) * (sum(c2) + 1) // (sum(c1 * c2) + 1) - 1 AS BIGINT)
        |    AS chapman
        |FROM u GROUP BY dow ORDER BY dow""".stripMargin,

    // MATTR replay: parallel unnest (token, 0-based position) zips the
    // word list with its index, 50-token full windows, e6 average.
    "q_mattr" ->
      s"""WITH base AS (SELECT lang, doc_id, ${wordsSql("lower(text)")} AS ws FROM documents),
         |toks AS (SELECT lang, doc_id, unnest(ws) AS tok,
         |    unnest(range(len(ws))) AS pos FROM base),
         |seg AS (SELECT lang, doc_id, pos // 50 AS segm,
         |    CAST(count(*) AS BIGINT) AS n_tok,
         |    CAST(count(DISTINCT tok) AS BIGINT) AS n_type
         |  FROM toks GROUP BY 1, 2, 3)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(sum(n_type * 1000000) // (count(1) * 50) AS BIGINT) AS mattr_e6
         |FROM seg WHERE n_tok = 50 GROUP BY lang ORDER BY lang""".stripMargin,

    // PACF replay: acf's exact integer autocovariance numerators, the
    // Durbin-Levinson ratios as identical IEEE double expressions,
    // e6-floored.
    "q_pacf" -> {
      def r(i: Int) =
        s"(CAST(m$i AS DOUBLE) / CAST(n * sxx - CAST(s AS HUGEINT) * s AS DOUBLE))"
      val (r1, r2, r3) = (r(1), r(2), r(3))
      s"""WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
         |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
         |g AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(CAST(x AS HUGEINT)) AS s,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx FROM daily),
         |spine AS (SELECT unnest(range(1, 4)) AS lag),
         |nums AS (SELECT n, s, sxx,
         |    sum(CASE WHEN lag = 1 THEN (n * a.x - s) * (n * b.x - s) END) AS m1,
         |    sum(CASE WHEN lag = 2 THEN (n * a.x - s) * (n * b.x - s) END) AS m2,
         |    sum(CASE WHEN lag = 3 THEN (n * a.x - s) * (n * b.x - s) END) AS m3
         |  FROM daily a CROSS JOIN spine JOIN daily b ON b.d = a.d + lag
         |  CROSS JOIN g GROUP BY n, s, sxx)
         |SELECT CAST(n AS BIGINT) AS n_days,
         |  CAST(floor(1000000.0 * $r1) AS BIGINT) AS phi11_e6,
         |  CAST(floor(1000000.0 *
         |    (($r2 - $r1 * $r1) / (1.0 - $r1 * $r1))) AS BIGINT) AS phi22_e6,
         |  CAST(floor(1000000.0 * (
         |    ($r3
         |      - ($r1 * (1.0 - (($r2 - $r1 * $r1) / (1.0 - $r1 * $r1)))) * $r2
         |      - (($r2 - $r1 * $r1) / (1.0 - $r1 * $r1)) * $r1)
         |    / ((1.0 - $r1 * $r1)
         |       * (1.0 - (($r2 - $r1 * $r1) / (1.0 - $r1 * $r1))
         |              * (($r2 - $r1 * $r1) / (1.0 - $r1 * $r1))))
         |  )) AS BIGINT) AS phi33_e6
         |FROM nums""".stripMargin
    },

    // Removal-effect replay: journey transitions, then 25 unrolled
    // integer value-iteration steps per chain (full + one chain per
    // channel with edges INTO that channel dropped — p(null) = 0 makes
    // redirect-to-null and drop equivalent). Every step MATERIALIZED.
    "q_removal_effect" -> {
      val channels = Seq("click", "error", "signup", "view")
      def chain(tag: String, excl: String): String = {
        def step(i: Int): String =
          s"""p$tag$i AS MATERIALIZED (
             |  SELECT sts.s AS s,
             |    CAST(coalesce(sum(tr.cnt * pp.p), 0) // max(outs.o) AS BIGINT) AS p
             |  FROM sts JOIN outs ON outs.src = sts.s
             |  LEFT JOIN tr ON tr.src = sts.s$excl
             |  LEFT JOIN p$tag${i - 1} pp ON pp.s = tr.dst
             |  GROUP BY sts.s
             |  UNION ALL SELECT 'conv', CAST(1000000000 AS BIGINT)
             |  UNION ALL SELECT 'null', CAST(0 AS BIGINT))""".stripMargin
        s"""p${tag}0 AS (SELECT s, CAST(0 AS BIGINT) AS p FROM sts
           |  UNION ALL SELECT 'conv', 1000000000 UNION ALL SELECT 'null', 0),
           |${(1 to 25).map(step).mkString(",\n")}""".stripMargin
      }
      val chains = chain("f", "") +: channels.zipWithIndex.map { case (c, i) =>
        chain(s"c$i", s" AND tr.dst <> '$c'")
      }
      val rcRows = channels.zipWithIndex.map { case (c, i) =>
        s"SELECT '$c' AS channel, (SELECT p FROM pc${i}25 WHERE s = 'start') AS p_removed"
      }.mkString("\n  UNION ALL ")
      s"""WITH ev AS (SELECT user_id, event_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |pc AS (SELECT *, sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY user_id ORDER BY us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_conv
         |  FROM ev),
         |seq AS (SELECT user_id, event_id, us,
         |    CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END AS st
         |  FROM pc WHERE coalesce(prior_conv, 0) = 0),
         |sq2 AS (SELECT *,
         |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS ord,
         |    lead(st) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
         |  FROM seq),
         |tr AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT 'start' AS src, st AS dst FROM sq2 WHERE ord = 1
         |    UNION ALL
         |    SELECT st, coalesce(nxt, 'null') FROM sq2 WHERE st <> 'conv') t
         |  GROUP BY 1, 2),
         |outs AS MATERIALIZED (SELECT src, CAST(sum(cnt) AS BIGINT) AS o FROM tr GROUP BY src),
         |sts AS MATERIALIZED (SELECT DISTINCT src AS s FROM tr),
         |${chains.mkString(",\n")},
         |pfin AS (SELECT p AS p_full FROM pf25 WHERE s = 'start'),
         |rc AS ($rcRows),
         |sre AS (SELECT greatest(sum(pfin.p_full - rc.p_removed), 1) AS sre
         |  FROM rc CROSS JOIN pfin)
         |SELECT channel, p_full AS p_full_e9, p_removed AS p_removed_e9,
         |  CAST((p_full - p_removed) * 1000000 // greatest(p_full, 1) AS BIGINT)
         |    AS removal_effect_e6,
         |  CAST((p_full - p_removed) * 1000000 // sre AS BIGINT) AS attribution_e6
         |FROM rc CROSS JOIN pfin CROSS JOIN sre
         |ORDER BY channel""".stripMargin
    },

    // BH replay: per-type permutation p-values (the q_permutation_test
    // machinery keyed by event_type), bounded self-join rank, integer
    // Bonferroni + BH step-up at alpha_e6 = 50000.
    "q_fdr_bh" ->
      s"""WITH $eventPermCtes,
         |pp AS (SELECT event_type, CAST(obs_e3 AS BIGINT) AS obs_e3, n_ge,
         |    CAST(1000000 * (1 + n_ge) // 201 AS BIGINT) AS p_e6 FROM p),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pp),
         |ranked AS (SELECT x.event_type, x.obs_e3, x.n_ge, x.p_e6,
         |    CAST(count(y.event_type) + 1 AS BIGINT) AS rnk
         |  FROM pp x LEFT JOIN pp y
         |    ON y.p_e6 < x.p_e6 OR (y.p_e6 = x.p_e6 AND y.event_type < x.event_type)
         |  GROUP BY x.event_type, x.obs_e3, x.n_ge, x.p_e6),
         |ks AS (SELECT coalesce(max(rnk), 0) AS k_star
         |  FROM ranked CROSS JOIN mm WHERE p_e6 * m <= rnk * 50000)
         |SELECT event_type, obs_e3, n_ge, p_e6, rnk, m,
         |  p_e6 * m <= 50000 AS reject_bonferroni,
         |  rnk <= k_star AS reject_bh
         |FROM ranked CROSS JOIN mm CROSS JOIN ks
         |ORDER BY event_type""".stripMargin,

    // BY replay: the fdr_bh permutation p machinery with the exact
    // floor-summed harmonic factor and both step-up thresholds.
    "q_benjamini_yekutieli" ->
      s"""WITH $eventPermCtes,
         |pp AS (SELECT event_type, CAST(obs_e3 AS BIGINT) AS obs_e3,
         |    CAST(1000000 * (1 + n_ge) // 201 AS BIGINT) AS p_e6 FROM p),
         |ranked AS (SELECT x.event_type, x.obs_e3, x.p_e6,
         |    CAST(count(y.event_type) + 1 AS BIGINT) AS rnk
         |  FROM pp x LEFT JOIN pp y
         |    ON y.p_e6 < x.p_e6 OR (y.p_e6 = x.p_e6 AND y.event_type < x.event_type)
         |  GROUP BY x.event_type, x.obs_e3, x.p_e6),
         |mc AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(1000000 // rnk) AS BIGINT) AS cm_e6 FROM ranked),
         |kbh AS (SELECT coalesce(max(rnk), 0) AS k_bh FROM ranked CROSS JOIN mc
         |  WHERE p_e6 * m <= rnk * 50000),
         |kby AS (SELECT coalesce(max(rnk), 0) AS k_by FROM ranked CROSS JOIN mc
         |  WHERE p_e6 * m * cm_e6 <= rnk * 50000 * 1000000)
         |SELECT event_type, obs_e3, p_e6, rnk, m, cm_e6,
         |  rnk <= k_bh AS reject_bh, rnk <= k_by AS reject_by
         |FROM ranked CROSS JOIN mc CROSS JOIN kbh CROSS JOIN kby
         |ORDER BY event_type""".stripMargin,

    // MDE replay: exact purchase share, the sample-size constant,
    // one IEEE sqrt per grid row.
    "q_mde" ->
      """WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k FROM events),
        |grid AS (SELECT CAST(unnest([1000, 5000, 10000, 50000]) AS BIGINT)
        |    AS n_per_arm)
        |SELECT n_per_arm, CAST(k * 1000000 // n_events AS BIGINT) AS p_base_e6,
        |  CAST(floor(2.801585 * sqrt(2.0 * (CAST(k AS DOUBLE) / n_events)
        |    * (1.0 - CAST(k AS DOUBLE) / n_events) / n_per_arm)
        |    * 1000000.0) AS BIGINT) AS mde_abs_e6,
        |  CAST(CAST(floor(2.801585 * sqrt(2.0 * (CAST(k AS DOUBLE) / n_events)
        |    * (1.0 - CAST(k AS DOUBLE) / n_events) / n_per_arm)
        |    * 1000000.0) AS BIGINT) * 1000000
        |    // (k * 1000000 // n_events) AS BIGINT) AS mde_rel_e6
        |FROM base CROSS JOIN grid ORDER BY n_per_arm""".stripMargin,

    // Mix-shift replay: ship-date halves, brand dim join, the exact
    // shared-floor price/volume identity.
    "q_mix_shift" ->
      """WITH li AS (SELECT l_partkey,
        |    CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS d,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS rev
        |  FROM lineitem),
        |m AS (SELECT (min(d) + max(d)) // 2 AS mid FROM li),
        |g AS (SELECT p_brand,
        |    CAST(sum(CASE WHEN d <= mid THEN qty ELSE 0 END) AS BIGINT) AS q0,
        |    CAST(sum(CASE WHEN d > mid THEN qty ELSE 0 END) AS BIGINT) AS q1,
        |    CAST(sum(CASE WHEN d <= mid THEN rev ELSE 0 END) AS BIGINT) AS r0,
        |    CAST(sum(CASE WHEN d > mid THEN rev ELSE 0 END) AS BIGINT) AS r1
        |  FROM li CROSS JOIN m JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand)
        |SELECT p_brand, q0, q1, r0, r1, r1 - r0 AS delta_rev,
        |  r1 - CAST(CAST(r0 AS HUGEINT) * q1 // nullif(q0, 0) AS BIGINT)
        |    AS price_effect,
        |  CAST(CAST(r0 AS HUGEINT) * q1 // nullif(q0, 0) AS BIGINT) - r0
        |    AS volume_effect
        |FROM g ORDER BY p_brand""".stripMargin,

    // Growth-accounting replay: distinct (user, day), per-user lag
    // window for new/retained/resurrected + churn-out flags.
    "q_growth_accounting" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d FROM events),
        |f AS (SELECT d,
        |    CASE WHEN lag(d) OVER w IS NULL THEN 'new'
        |         WHEN lag(d) OVER w = d - 1 THEN 'retained'
        |         ELSE 'resurrected' END AS state,
        |    (lead(d) OVER w IS NULL OR lead(d) OVER w > d + 1) AS quiet_next
        |  FROM ud WINDOW w AS (PARTITION BY user_id ORDER BY d))
        |SELECT d AS day, CAST(count(*) AS BIGINT) AS dau,
        |  CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_users,
        |  CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS retained,
        |  CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS resurrected,
        |  CAST(sum(CASE WHEN quiet_next THEN 1 ELSE 0 END) AS BIGINT)
        |    AS churning_out
        |FROM f GROUP BY d ORDER BY day""".stripMargin,

    // Interaction-coverage replay: distinct-pair aggregate, cold-start
    // shares, support-walk q90, top-decile concentration.
    "q_interaction_coverage" ->
      """WITH r AS (SELECT user_id, event_type, count(*) AS n FROM events
        |  GROUP BY 1, 2),
        |users AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(n) AS BIGINT) AS n_inter FROM r GROUP BY 1),
        |items AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
        |  FROM r GROUP BY 1),
        |us AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(CASE WHEN n_inter < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cold_users,
        |    CAST(sum(n_inter) AS BIGINT) AS total_inter FROM users),
        |ist AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(CASE WHEN n_users < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cold_items FROM items),
        |cells AS (SELECT CAST(count(*) AS BIGINT) AS n_cells FROM r),
        |sup AS (SELECT n_inter, CAST(count(*) AS BIGINT) AS c FROM users
        |  GROUP BY 1),
        |q90 AS (SELECT min(v) AS q90 FROM (
        |    SELECT x.n_inter AS v, sum(y.c) AS cum FROM sup x
        |    JOIN sup y ON y.n_inter <= x.n_inter GROUP BY 1) z
        |  CROSS JOIN us WHERE cum * 10 >= n_users * 9),
        |ts AS (SELECT CAST(sum(CASE WHEN n_inter >= q90 THEN n_inter
        |    ELSE 0 END) AS BIGINT) AS top_inter FROM users CROSS JOIN q90)
        |SELECT n_users, n_items, n_cells, total_inter,
        |  CAST(n_cells * 1000000 // (n_users * n_items) AS BIGINT)
        |    AS density_e6,
        |  CAST(cold_users * 1000000 // n_users AS BIGINT)
        |    AS cold_user_share_e6,
        |  CAST(cold_items * 1000000 // n_items AS BIGINT)
        |    AS cold_item_share_e6,
        |  CAST(top_inter * 1000000 // total_inter AS BIGINT)
        |    AS top_decile_share_e6
        |FROM us CROSS JOIN ist CROSS JOIN cells CROSS JOIN ts""".stripMargin,

    // Lognormal-fit replay: e6-floored per-doc ln, exact moment sums,
    // support-walk empirical median, model-vs-empirical gap.
    "q_length_lognormal" ->
      """WITH d AS (SELECT source, CAST(len(regexp_extract_all(text,
        |    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n
        |  FROM documents),
        |d2 AS (SELECT source, n,
        |    CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
        |      AS ln_e6
        |  FROM d WHERE n >= 1),
        |mom AS (SELECT source, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(ln_e6) AS BIGINT) AS s1,
        |    sum(CAST(ln_e6 AS HUGEINT) * ln_e6) AS s2 FROM d2 GROUP BY 1),
        |mm AS (SELECT source, nd, s1 // nd AS mu_e6,
        |    CAST((nd * s2 - CAST(s1 AS HUGEINT) * s1)
        |      // (CAST(nd AS HUGEINT) * nd) AS BIGINT) AS sigma2_e12
        |  FROM mom),
        |sup AS (SELECT source, n, CAST(count(*) AS BIGINT) AS c FROM d2
        |  GROUP BY 1, 2),
        |med AS (SELECT z.source, min(n) AS median_tokens FROM (
        |    SELECT source, n, sum(c) OVER (PARTITION BY source ORDER BY n
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM sup) z
        |  JOIN mm ON z.source = mm.source WHERE cum * 2 >= nd
        |  GROUP BY z.source)
        |SELECT mm.source, nd AS n_docs, CAST(mu_e6 AS BIGINT) AS mu_e6,
        |  sigma2_e12, median_tokens,
        |  CAST(floor(exp(CAST(mu_e6 AS DOUBLE) / 1000000.0) * 1000000.0)
        |    AS BIGINT) AS model_median_e6,
        |  CAST(abs(CAST(floor(exp(CAST(mu_e6 AS DOUBLE) / 1000000.0)
        |      * 1000000.0) AS BIGINT) - median_tokens * 1000000) * 1000000
        |    // (median_tokens * 1000000) AS BIGINT) AS median_gap_rel_e6
        |FROM mm JOIN med ON mm.source = med.source
        |ORDER BY mm.source""".stripMargin,

    // Wilson replay: per-type post-midpoint counts, the closed form
    // with identical literal text, one IEEE sqrt, e6 floors.
    "q_wilson_ci" ->
      """WITH ev AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d FROM events),
        |m AS (SELECT (min(d) + max(d)) // 2 AS mid FROM ev),
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN d > mid THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM ev CROSS JOIN m GROUP BY 1)
        |SELECT event_type, n, k, CAST(k * 1000000 // n AS BIGINT) AS rate_e6,
        |  CAST(floor(((k + 1.9207295) - 1.959964
        |    * sqrt(CAST(k AS DOUBLE) * (n - k) / n + 0.96036475))
        |    / (n + 3.841459) * 1000000.0) AS BIGINT) AS wilson_lo_e6,
        |  CAST(floor(((k + 1.9207295) + 1.959964
        |    * sqrt(CAST(k AS DOUBLE) * (n - k) / n + 0.96036475))
        |    / (n + 3.841459) * 1000000.0) AS BIGINT) AS wilson_hi_e6
        |FROM t ORDER BY event_type""".stripMargin,

    // Seasonal-MK replay: per-weekday pair signs, exact x18 variance,
    // continuity-corrected z with one IEEE sqrt.
    "q_seasonal_mk" ->
      """WITH daily AS (SELECT d, CAST(count(*) AS BIGINT) AS x FROM (
        |    SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
        |    FROM events) GROUP BY d),
        |dd AS (SELECT d, x, d % 7 AS dow FROM daily),
        |pd AS (SELECT a.dow, CAST(sum(CASE WHEN b.x > a.x THEN 1
        |    WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_k
        |  FROM dd a JOIN dd b ON a.dow = b.dow AND a.d < b.d GROUP BY a.dow),
        |nk AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_k FROM dd GROUP BY dow),
        |t AS (SELECT CAST(sum(n_k) AS BIGINT) AS n_days,
        |    CAST(count(*) AS BIGINT) AS n_seasons,
        |    CAST(sum(s_k) AS BIGINT) AS s_seasonal,
        |    CAST(sum(n_k * (n_k - 1) * (2 * n_k + 5)) AS BIGINT) AS var_x18
        |  FROM pd JOIN nk USING (dow))
        |SELECT n_days, n_seasons, s_seasonal, var_x18,
        |  CAST(floor(CASE WHEN s_seasonal > 0 THEN (s_seasonal - 1)
        |    ELSE CASE WHEN s_seasonal < 0 THEN (s_seasonal + 1) ELSE 0 END END
        |    / sqrt(CAST(var_x18 AS DOUBLE) / 18.0) * 1000000.0) AS BIGINT)
        |    AS z_e6
        |FROM t""".stripMargin,

    // BM25-sweep replay: the q_bm25 chain scored under the 6-cell
    // (k1, b) grid, per-cell rank window, deterministic relevance.
    "q_bm25_sweep" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |t2 AS (SELECT doc_id, token FROM tok WHERE length(token) >= 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY doc_id),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM t2
        |  WHERE token IN ('hash', 'join', 'vector') GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |grid AS (SELECT unnest([60, 60, 120, 120, 180, 180]) AS k1_e2,
        |    unnest([25, 75, 25, 75, 25, 75]) AS b_e2),
        |s AS (SELECT k1_e2, b_e2, tf.doc_id,
        |    ln(1 + (n_docs - df + 0.5) / (df + 0.5))
        |      * (tf * (k1_e2 / 100.0 + 1) / (tf + k1_e2 / 100.0
        |        * (1 - b_e2 / 100.0 + b_e2 / 100.0 * dl / avgdl))) AS s
        |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id)
        |  CROSS JOIN st CROSS JOIN grid),
        |sc AS (SELECT k1_e2, b_e2, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |    round(sum(s), 6) AS score FROM s GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER (PARTITION BY k1_e2, b_e2
        |    ORDER BY score DESC, doc_id) AS rnk FROM sc)
        |SELECT CAST(k1_e2 AS BIGINT) AS k1_e2, CAST(b_e2 AS BIGINT) AS b_e2,
        |  CAST(count(*) AS BIGINT) AS n_ranked,
        |  CAST(sum(CASE WHEN rnk <= 5 AND n_terms >= 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hits_at5,
        |  CAST(min(CASE WHEN n_terms >= 2 THEN rnk END) AS BIGINT)
        |    AS first_rel_rank,
        |  CAST(sum(CASE WHEN n_terms >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
        |FROM r GROUP BY 1, 2 ORDER BY k1_e2, b_e2""".stripMargin,

    // Placebo-DiD replay: per-(user, post) purchase sums once, 200
    // hash reassignments, 4-cell exact means per round, |did| tail.
    "q_placebo_test" ->
      s"""WITH ev AS (SELECT user_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
         |    CAST(round(value * 100, 0) AS BIGINT) AS cts
         |  FROM events WHERE event_type = 'purchase'),
         |m AS (SELECT (min(d) + max(d)) // 2 AS mid FROM ev),
         |u AS (SELECT user_id, d > mid AS post, CAST(sum(cts) AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM ev CROSS JOIN m GROUP BY 1, 2),
         |oc AS (SELECT user_id % 2 = 0 AS treated, post,
         |    sum(s) * 10000 // sum(n) AS m_e6 FROM u GROUP BY 1, 2),
         |obs AS (SELECT
         |    (max(CASE WHEN treated AND post THEN m_e6 END)
         |       - max(CASE WHEN treated AND NOT post THEN m_e6 END))
         |    - (max(CASE WHEN NOT treated AND post THEN m_e6 END)
         |       - max(CASE WHEN NOT treated AND NOT post THEN m_e6 END))
         |    AS obs_did_e6 FROM oc),
         |spine AS (SELECT unnest(range(1, 201)) AS r),
         |pc AS (SELECT r, ${hSql("user_id || ':' || r")} % 2 = 0 AS treated,
         |    post, sum(s) * 10000 // sum(n) AS m_e6
         |  FROM u CROSS JOIN spine GROUP BY 1, 2, 3),
         |pd AS (SELECT r,
         |    (max(CASE WHEN treated AND post THEN m_e6 END)
         |       - max(CASE WHEN treated AND NOT post THEN m_e6 END))
         |    - (max(CASE WHEN NOT treated AND post THEN m_e6 END)
         |       - max(CASE WHEN NOT treated AND NOT post THEN m_e6 END))
         |    AS did_e6 FROM pc GROUP BY r)
         |SELECT CAST(obs_did_e6 AS BIGINT) AS obs_did_e6,
         |  CAST(sum(CASE WHEN abs(did_e6) >= abs(obs_did_e6) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_ge,
         |  CAST(1000000 * (1 + sum(CASE WHEN abs(did_e6) >= abs(obs_did_e6)
         |    THEN 1 ELSE 0 END)) // 201 AS BIGINT) AS p_e6,
         |  CAST(200 AS BIGINT) AS n_perm
         |FROM pd CROSS JOIN obs GROUP BY obs_did_e6""".stripMargin,

    // Holm replay: the fdr_bh permutation p machinery, step-down
    // adjusted p by a prefix self-join running max, capped at 1.
    "q_holm_bonferroni" ->
      s"""WITH $eventPermCtes,
         |pp AS (SELECT event_type, CAST(obs_e3 AS BIGINT) AS obs_e3,
         |    CAST(1000000 * (1 + n_ge) // 201 AS BIGINT) AS p_e6 FROM p),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pp),
         |ranked AS (SELECT x.event_type, x.obs_e3, x.p_e6,
         |    CAST(count(y.event_type) + 1 AS BIGINT) AS rnk
         |  FROM pp x LEFT JOIN pp y
         |    ON y.p_e6 < x.p_e6 OR (y.p_e6 = x.p_e6 AND y.event_type < x.event_type)
         |  GROUP BY x.event_type, x.obs_e3, x.p_e6)
         |SELECT x.event_type, x.obs_e3, x.p_e6, x.rnk, m,
         |  least(max((m - y.rnk + 1) * y.p_e6), 1000000) AS holm_adj_e6,
         |  least(max((m - y.rnk + 1) * y.p_e6), 1000000) <= 50000 AS reject_holm
         |FROM ranked x JOIN ranked y ON y.rnk <= x.rnk CROSS JOIN mm
         |GROUP BY x.event_type, x.obs_e3, x.p_e6, x.rnk, m
         |ORDER BY x.event_type""".stripMargin,

    // E-value replay: the odds-ratio 2x2 cells, >=1-directed ratio,
    // one IEEE sqrt floored at e6.
    "q_evalue" ->
      """WITH urgent AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |c AS (SELECT n.n_regionkey AS region,
        |    cu.c_mktsegment = 'BUILDING' AS exp,
        |    CASE WHEN u.c_custkey IS NULL THEN 0 ELSE 1 END AS outc
        |  FROM customer cu JOIN nation n ON cu.c_nationkey = n.n_nationkey
        |  LEFT JOIN urgent u ON cu.c_custkey = u.c_custkey),
        |cells AS (SELECT region,
        |    CAST(sum(CASE WHEN exp AND outc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN exp AND outc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN NOT exp AND outc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN NOT exp AND outc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM c GROUP BY region),
        |orh AS (SELECT region,
        |    (2*a+1) * (2*d+1) * 1000000 // ((2*b+1) * (2*c+1)) AS or_haldane_e6
        |  FROM cells),
        |dir AS (SELECT region, or_haldane_e6,
        |    CASE WHEN or_haldane_e6 >= 1000000 THEN or_haldane_e6
        |    ELSE 1000000000000 // or_haldane_e6 END AS or_dir_e6 FROM orh)
        |SELECT region, or_haldane_e6, or_dir_e6,
        |  or_dir_e6 + CAST(floor(sqrt(CAST(or_dir_e6 AS DOUBLE)
        |    * (or_dir_e6 - 1000000))) AS BIGINT) AS evalue_e6
        |FROM dir ORDER BY region""".stripMargin,

    // Embedding-drift replay: parallel unnest (element, dim), e6
    // quantization BEFORE any sum, cross-multiplied mean gap, struct
    // argmax for the worst dimension.
    "q_embed_drift" ->
      """WITH q AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    unnest(range(len(embedding))) AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS qx
        |  FROM embeddings),
        |bd AS (SELECT label, dim,
        |    sum(CASE WHEN vec_id % 2 = 0 THEN qx END) AS sA,
        |    sum(CASE WHEN vec_id % 2 = 1 THEN qx END) AS sB,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nA,
        |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nB
        |  FROM q GROUP BY 1, 2),
        |g AS (SELECT label, dim, nA, nB,
        |    (CAST(sA AS HUGEINT) * nB - CAST(sB AS HUGEINT) * nA)
        |      // (CAST(nA AS HUGEINT) * nB) AS gap_e6
        |  FROM bd)
        |SELECT label, CAST(max(nA) AS BIGINT) AS n_a, CAST(max(nB) AS BIGINT) AS n_b,
        |  CAST(sum(gap_e6 * gap_e6) AS BIGINT) AS l2_gap_e12,
        |  CAST(min(struct_pack(na := -abs(gap_e6), dim := dim)).dim AS BIGINT)
        |    AS worst_dim,
        |  CAST(-min(struct_pack(na := -abs(gap_e6), dim := dim)).na AS BIGINT)
        |    AS worst_gap_abs_e6
        |FROM g GROUP BY label ORDER BY label""".stripMargin,

    // Depth-2 CART replay: the stump chain generalized with a node
    // column, run once for the root and once for the two children.
    "q_tree2" -> {
      def chi2 = "(CAST(a * qt - b * pt AS HUGEINT) * (a * qt - b * pt) * (pt + qt) * 1000000)" +
        " // (pt * qt * (a + b) * (pt + qt - a - b))"
      def bs(s: String): String =
        s"""pv$s AS (SELECT node, feature, v,
           |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
           |    sum(CASE WHEN pos THEN 0 ELSE 1 END) AS q
           |  FROM lng$s GROUP BY 1, 2, 3),
           |cum$s AS (SELECT node, feature, v,
           |    sum(p) OVER (PARTITION BY node, feature ORDER BY v) AS a,
           |    sum(q) OVER (PARTITION BY node, feature ORDER BY v) AS b
           |  FROM pv$s),
           |tot$s AS (SELECT node, feature, sum(p) AS pt, sum(q) AS qt
           |  FROM pv$s GROUP BY 1, 2),
           |sc$s AS (SELECT cum$s.node, cum$s.feature, v, a, b, pt, qt,
           |    CAST($chi2 AS BIGINT) AS chi2_e6,
           |    row_number() OVER (PARTITION BY cum$s.node
           |      ORDER BY $chi2 DESC, cum$s.feature, v) AS rn
           |  FROM cum$s JOIN tot$s
           |    ON cum$s.node = tot$s.node AND cum$s.feature = tot$s.feature
           |  WHERE pt + qt - a - b > 0 AND a + b > 0 AND pt > 0 AND qt > 0),
           |best$s AS (SELECT node, feature, CAST(v AS BIGINT) AS threshold, chi2_e6,
           |    CAST(a AS BIGINT) AS pos_le, CAST(b AS BIGINT) AS neg_le,
           |    CAST(pt - a AS BIGINT) AS pos_gt, CAST(qt - b AS BIGINT) AS neg_gt
           |  FROM sc$s WHERE rn = 1)""".stripMargin
      s"""WITH d AS (
         |  SELECT lang = 'en' AS pos, n_chars AS f_chars,
         |    CAST(len(${wordsSql("text")}) AS BIGINT) AS f_words
         |  FROM documents),
         |lngr AS (
         |  SELECT 'root' AS node, 'n_chars' AS feature, f_chars AS v, pos FROM d
         |  UNION ALL SELECT 'root', 'n_words', f_words, pos FROM d),
         |${bs("r")},
         |rb AS (SELECT feature AS rf, threshold AS rt FROM bestr),
         |ld AS (SELECT CASE WHEN (CASE rf WHEN 'n_chars' THEN f_chars
         |      ELSE f_words END) <= rt THEN 'leaf_le' ELSE 'leaf_gt' END AS node,
         |    pos, f_chars, f_words
         |  FROM d CROSS JOIN rb),
         |lngl AS (
         |  SELECT node, 'n_chars' AS feature, f_chars AS v, pos FROM ld
         |  UNION ALL SELECT node, 'n_words', f_words, pos FROM ld),
         |${bs("l")}
         |SELECT * FROM bestr
         |UNION ALL SELECT * FROM bestl
         |ORDER BY node""".stripMargin
    },

    // IPS/SNIPS replay: fit on even days, evaluate on odd, e6 inverse
    // empirical propensities, identical truncating aggregations.
    "q_ips_eval" ->
      """WITH ev AS (SELECT user_id % 4 AS cohort, event_type AS a,
        |    CAST(round(value * 100, 0) AS BIGINT) AS r,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) % 2 = 0 AS fit
        |  FROM events),
        |fa AS (SELECT cohort, a, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(r) AS BIGINT) AS sr
        |  FROM ev WHERE fit GROUP BY 1, 2),
        |nf AS (SELECT cohort, CAST(sum(cnt) AS BIGINT) AS n_fit FROM fa GROUP BY cohort),
        |pi AS (SELECT cohort, a AS pi_a, cnt AS cnt_pi FROM (
        |    SELECT cohort, a, cnt, row_number() OVER (PARTITION BY cohort
        |      ORDER BY sr * 1000000 // cnt DESC, a) AS rn FROM fa)
        |  WHERE rn = 1),
        |wts AS (SELECT pi.cohort, pi_a, n_fit * 1000000 // cnt_pi AS w_e6
        |  FROM pi JOIN nf ON pi.cohort = nf.cohort),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_eval FROM ev WHERE NOT fit),
        |mt AS (SELECT CAST(count(*) AS BIGINT) AS n_match,
        |    CAST(sum(r) AS BIGINT) AS sum_r_cents,
        |    CAST(sum(r * w_e6) AS BIGINT) AS srw, CAST(sum(w_e6) AS BIGINT) AS sw
        |  FROM ev JOIN wts ON ev.cohort = wts.cohort
        |  WHERE NOT fit AND a = pi_a)
        |SELECT n_eval, n_match, sum_r_cents,
        |  CAST(srw // (n_eval * 10000) AS BIGINT) AS ips_cents_e2,
        |  CAST(srw * 100 // sw AS BIGINT) AS snips_cents_e2,
        |  CAST(sum_r_cents * 100 // n_match AS BIGINT) AS dm_cents_e2
        |FROM mt CROSS JOIN ne""".stripMargin,

    // Disparate-impact replay: per-segment urgent-order selection
    // rates, four-fifths ratio vs the max-rate segment.
    "q_disparate_impact" ->
      """WITH urg AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |rates AS (SELECT c_mktsegment AS segment,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN urg.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS selected
        |  FROM customer LEFT JOIN urg USING (c_custkey)
        |  GROUP BY 1),
        |r2 AS (SELECT *, selected * 1000000 // n AS rate_e6 FROM rates),
        |ref AS (SELECT max(rate_e6) AS max_rate_e6 FROM r2)
        |SELECT segment, n, selected, rate_e6,
        |  CAST(rate_e6 * 1000000 // max_rate_e6 AS BIGINT) AS di_ratio_e6,
        |  CAST(rate_e6 - max_rate_e6 AS BIGINT) AS parity_diff_e6,
        |  rate_e6 * 1000000 // max_rate_e6 < 800000 AS adverse_impact
        |FROM r2 CROSS JOIN ref ORDER BY segment""".stripMargin,

    // Wilcoxon signed-rank replay: per-user half-window spend diffs,
    // doubled midranks over the distinct-|diff| support, exact
    // integer normal-approximation z^2.
    "q_wilcoxon_signed" ->
      """WITH ev AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS r FROM events),
        |mid AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
        |diffs AS (SELECT sum(CASE WHEN day >= mid THEN r ELSE 0 END)
        |    - sum(CASE WHEN day < mid THEN r ELSE 0 END) AS d
        |  FROM ev CROSS JOIN mid GROUP BY user_id),
        |dz AS (SELECT d FROM diffs WHERE d <> 0),
        |support AS (SELECT abs(d) AS ad,
        |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM dz GROUP BY abs(d)),
        |ranked AS (SELECT pos, cnt,
        |    2 * coalesce(sum(cnt) OVER (ORDER BY ad
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cnt + 1 AS mr2
        |  FROM support),
        |agg AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_pairs,
        |    CAST(sum(pos * mr2) AS BIGINT) AS w2_plus,
        |    CAST(sum((cnt - pos) * mr2) AS BIGINT) AS w2_minus
        |  FROM ranked)
        |SELECT n_pairs, w2_plus, w2_minus,
        |  CAST((CAST(2 * w2_plus - n_pairs * (n_pairs + 1) AS HUGEINT)
        |    * (2 * w2_plus - n_pairs * (n_pairs + 1)) * 1500000)
        |    // (CAST(n_pairs AS HUGEINT) * (n_pairs + 1) * (2 * n_pairs + 1))
        |    AS BIGINT) AS z2_e6
        |FROM agg""".stripMargin,

    // Cramér's V replay: chi2 summed from the SAME truncating e6 cell
    // terms (integer sum, no float accumulation), IEEE sqrt closeout.
    "q_cramers_v" ->
      """WITH o AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, sum(o) AS r FROM o GROUP BY lang),
        |cm AS (SELECT source, sum(o) AS c FROM o GROUP BY source),
        |n AS (SELECT sum(o) AS nn FROM o),
        |dims AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS r_levels,
        |    CAST(count(DISTINCT source) AS BIGINT) AS c_levels FROM o),
        |cells AS (SELECT nn,
        |    CAST((CAST(nn * coalesce(o.o, 0) - r.r * cm.c AS HUGEINT)
        |      * (nn * coalesce(o.o, 0) - r.r * cm.c) * 1000000)
        |      // CAST(nn AS HUGEINT) // (r.r * cm.c) AS BIGINT) AS cell_e6
        |  FROM r CROSS JOIN cm CROSS JOIN n
        |  LEFT JOIN o ON o.lang = r.lang AND o.source = cm.source),
        |s AS (SELECT nn, CAST(sum(cell_e6) AS BIGINT) AS chi2_e6 FROM cells GROUP BY nn)
        |SELECT CAST(nn AS BIGINT) AS n, r_levels, c_levels, chi2_e6,
        |  CAST(floor(1000000.0 * sqrt(CAST(chi2_e6 AS DOUBLE)
        |    / (1000000.0 * CAST(nn AS DOUBLE)
        |       * (least(r_levels, c_levels) - 1)))) AS BIGINT) AS cramers_v_e6
        |FROM s CROSS JOIN dims""".stripMargin,

    // DAU/MAU replay: bounded 30-day fan-out (range is end-exclusive:
    // day .. day+29), per-day distincts, e6 stickiness.
    "q_dau_mau" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM ud GROUP BY day),
        |f AS (SELECT user_id, unnest(range(day, day + 30)) AS day FROM ud),
        |mau AS (SELECT f.day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        |  FROM f JOIN days ON f.day = days.day GROUP BY f.day)
        |SELECT dau.day AS day, dau, mau,
        |  CAST(dau * 1000000 // mau AS BIGINT) AS stickiness_e6
        |FROM dau JOIN mau ON dau.day = mau.day ORDER BY dau.day""".stripMargin,

    // IPF replay: six unrolled alternating margin-scaling sweeps at e6
    // with HUGEINT widening (mirrors the Spark decimal(38) widening).
    "q_ipf" ->
      """WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT sum(n) AS t, count(DISTINCT lang) AS nl,
        |    count(DISTINCT source) AS ns FROM cells),
        |s0 AS (SELECT lang, source, n, t * 1000000 // nl AS rt,
        |    t * 1000000 // ns AS ct, n * 1000000 AS w FROM cells CROSS JOIN tot),
        |r1 AS (SELECT lang, sum(w) AS rsum FROM s0 GROUP BY lang),
        |s1 AS (SELECT s0.lang, source, n, rt, ct,
        |    CAST(w AS HUGEINT) * rt // rsum AS w FROM s0 JOIN r1 ON s0.lang = r1.lang),
        |c1 AS (SELECT source, sum(w) AS csum FROM s1 GROUP BY source),
        |s2 AS (SELECT lang, s1.source, n, rt, ct,
        |    CAST(w AS HUGEINT) * ct // csum AS w FROM s1 JOIN c1 ON s1.source = c1.source),
        |r2 AS (SELECT lang, sum(w) AS rsum FROM s2 GROUP BY lang),
        |s3 AS (SELECT s2.lang, source, n, rt, ct,
        |    CAST(w AS HUGEINT) * rt // rsum AS w FROM s2 JOIN r2 ON s2.lang = r2.lang),
        |c2 AS (SELECT source, sum(w) AS csum FROM s3 GROUP BY source),
        |s4 AS (SELECT lang, s3.source, n, rt, ct,
        |    CAST(w AS HUGEINT) * ct // csum AS w FROM s3 JOIN c2 ON s3.source = c2.source),
        |r3 AS (SELECT lang, sum(w) AS rsum FROM s4 GROUP BY lang),
        |s5 AS (SELECT s4.lang, source, n, rt, ct,
        |    CAST(w AS HUGEINT) * rt // rsum AS w FROM s4 JOIN r3 ON s4.lang = r3.lang),
        |c3 AS (SELECT source, sum(w) AS csum FROM s5 GROUP BY source),
        |s6 AS (SELECT lang, s5.source, n, rt, ct,
        |    CAST(w AS HUGEINT) * ct // csum AS w FROM s5 JOIN c3 ON s5.source = c3.source)
        |SELECT lang, source, n, CAST(w AS BIGINT) AS w_e6,
        |  CAST(w // n AS BIGINT) AS per_doc_weight_e6
        |FROM s6 ORDER BY lang, source""".stripMargin,

    // Mixture-plan replay: per-lang token totals, half-corpus uniform
    // targets, capped takes + one truncating-proportional waterfill.
    "q_mixture_plan" ->
      s"""WITH lt AS (SELECT lang,
         |    CAST(sum(len(${wordsSql("text")})) AS BIGINT) AS avail
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT sum(avail) AS t, CAST(count(*) AS BIGINT) AS nl FROM lt),
         |base AS (SELECT lang, avail, (t // 2) // nl AS want,
         |    least((t // 2) // nl, avail) AS take0
         |  FROM lt CROSS JOIN tot),
         |bb AS (SELECT *, avail - take0 AS spare FROM base),
         |agg AS (SELECT sum(want - take0) AS deficit, sum(spare) AS spare_tot FROM bb)
         |SELECT lang, avail, CAST(want AS BIGINT) AS want,
         |  CAST(take0 + CASE WHEN spare_tot > 0
         |    THEN least(spare, deficit * spare // spare_tot) ELSE 0 END AS BIGINT) AS take,
         |  CAST((take0 + CASE WHEN spare_tot > 0
         |    THEN least(spare, deficit * spare // spare_tot) ELSE 0 END)
         |    * 1000000 // avail AS BIGINT) AS rate_e6
         |FROM bb CROSS JOIN agg ORDER BY lang""".stripMargin,

    // CvM replay: the ks_drift cumulative support walk, squared
    // cross-multiplied CDF gaps weighted by multiplicity, HUGEINT.
    "q_cvm" ->
      """WITH pv AS (SELECT lang, n_chars AS v,
        |    sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS cb
        |  FROM documents GROUP BY lang, n_chars),
        |cum AS (SELECT lang, v, ca, cb,
        |    sum(ca) OVER (PARTITION BY lang ORDER BY v) AS fa,
        |    sum(cb) OVER (PARTITION BY lang ORDER BY v) AS fb
        |  FROM pv),
        |tot AS (SELECT lang, sum(ca) AS na, sum(cb) AS nb FROM pv GROUP BY lang),
        |d AS (SELECT cum.lang, ca, cb, fa * nb - fb * na AS d, na, nb
        |  FROM cum JOIN tot ON cum.lang = tot.lang)
        |SELECT lang, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |  CAST(sum(CAST(d AS HUGEINT) * d * (ca + cb)) * 1000000
        |    // (CAST(na + nb AS HUGEINT) * (na + nb) * na * nb) AS BIGINT) AS cvm_e6
        |FROM d GROUP BY lang, na, nb ORDER BY lang""".stripMargin,

    // Anderson-Darling replay: inclusive pooled/A-side cumulative walk,
    // per-support-value truncating term (the fisherExact discipline),
    // terminal J=N block excluded, final div N.
    "q_anderson_darling" ->
      """WITH pv AS (SELECT lang, n_chars AS v,
        |    sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS cb
        |  FROM documents GROUP BY lang, n_chars),
        |cum AS (SELECT lang, v, ca, cb,
        |    sum(ca) OVER (PARTITION BY lang ORDER BY v) AS fa,
        |    sum(cb) OVER (PARTITION BY lang ORDER BY v) AS fb
        |  FROM pv),
        |tot AS (SELECT lang, sum(ca) AS na, sum(cb) AS nb FROM pv GROUP BY lang),
        |d AS (SELECT cum.lang, ca, cb, fa + fb AS jj, na + nb AS nn,
        |    (na + nb) * fa - (fa + fb) * na AS d, na, nb
        |  FROM cum JOIN tot ON cum.lang = tot.lang
        |  WHERE fa + fb < na + nb)
        |SELECT lang, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |  CAST(sum((ca + cb) * CAST(d AS HUGEINT) * d * 1000000
        |      // (CAST(jj AS HUGEINT) * (nn - jj)))
        |    // (na + nb) AS BIGINT) AS ad_e6
        |FROM d GROUP BY lang, na, nb ORDER BY lang""".stripMargin,

    // Energy-distance replay: exclusive cumulative counts AND sums per
    // side, closed-form pairwise |diff| sums, fraction-free D^2 at e6.
    "q_energy_dist" ->
      """WITH pv AS (SELECT lang, n_chars AS v,
        |    sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS cb
        |  FROM documents GROUP BY lang, n_chars),
        |cum AS (SELECT lang, v, ca, cb,
        |    coalesce(sum(ca) OVER (PARTITION BY lang ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_a,
        |    coalesce(sum(cb) OVER (PARTITION BY lang ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_b,
        |    coalesce(sum(v * ca) OVER (PARTITION BY lang ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sum_a,
        |    coalesce(sum(v * cb) OVER (PARTITION BY lang ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sum_b
        |  FROM pv),
        |tot AS (SELECT lang, sum(ca) AS na, sum(cb) AS nb FROM pv GROUP BY lang),
        |sums AS (SELECT lang,
        |    sum(CAST(ca AS HUGEINT) * (v * cum_b - sum_b)
        |      + CAST(cb AS HUGEINT) * (v * cum_a - sum_a)) AS sxy,
        |    sum(CAST(ca AS HUGEINT) * (v * cum_a - sum_a)) AS sxx_h,
        |    sum(CAST(cb AS HUGEINT) * (v * cum_b - sum_b)) AS syy_h
        |  FROM cum GROUP BY lang)
        |SELECT sums.lang AS lang, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |  CAST((2 * sxy * na * nb - 2 * sxx_h * nb * nb - 2 * syy_h * na * na)
        |    * 1000000 // (CAST(na AS HUGEINT) * na * nb * nb) AS BIGINT)
        |    AS energy_d2_e6
        |FROM sums JOIN tot ON sums.lang = tot.lang ORDER BY sums.lang""".stripMargin,

    // Vocab-drift replay: half-split token counts, two top-20
    // rankings, Jaccard + the q_rbo dyadic overlap.
    "q_vocab_drift" ->
      s"""WITH mid AS (SELECT (min(doc_id) + max(doc_id) + 1) // 2 AS mid FROM documents),
         |tc AS (SELECT doc_id < mid AS h1, unnest(${wordsSql("lower(text)")}) AS tok
         |  FROM documents CROSS JOIN mid),
         |cnt AS (SELECT h1, tok, CAST(count(*) AS BIGINT) AS c FROM tc GROUP BY 1, 2),
         |rx AS (SELECT tok, rkx FROM (SELECT tok,
         |    CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rkx
         |  FROM cnt WHERE h1) WHERE rkx <= 20),
         |ry AS (SELECT tok, rky FROM (SELECT tok,
         |    CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rky
         |  FROM cnt WHERE NOT h1) WHERE rky <= 20),
         |both_r AS (SELECT coalesce(rx.tok, ry.tok) AS tok, rkx, rky
         |  FROM rx FULL OUTER JOIN ry ON rx.tok = ry.tok),
         |jac AS (SELECT CAST(sum(CASE WHEN rkx IS NOT NULL AND rky IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS inter,
         |    CAST(count(*) AS BIGINT) AS uni FROM both_r),
         |spine AS (SELECT unnest(range(1, 21)) AS d),
         |ad AS (SELECT d, CAST(count(*) AS BIGINT) AS a_d
         |  FROM both_r CROSS JOIN spine WHERE rkx <= d AND rky <= d GROUP BY d),
         |terms AS (SELECT CAST(a_d AS HUGEINT) *
         |    ((CAST(232792560 AS HUGEINT) * 1048576)
         |      // (CAST(pow(2, d) AS HUGEINT) * d)) AS term FROM ad),
         |rbo AS (SELECT CAST(coalesce(sum(term), 0) * 1000000
         |    // (CAST(232792560 AS HUGEINT) * 1048576) AS BIGINT) AS rbo_e6 FROM terms)
         |SELECT inter, uni, CAST(inter * 1000000 // uni AS BIGINT) AS jaccard_e6, rbo_e6
         |FROM jac CROSS JOIN rbo""".stripMargin,

    // kNN-imputation replay: dim-0 held out, sliced-distance top-3,
    // e6-quantized neighbor mean, absolute error vs the held truth.
    "q_knn_impute" ->
      s"""WITH e0 AS (SELECT vec_id,
         |    CAST(embedding[2:] AS DOUBLE[]) AS rest,
         |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000.0) AS BIGINT) AS d0_e6
         |  FROM embeddings),
         |pr AS (SELECT vec_id AS probe_id, rest AS pv, d0_e6 AS true_e6 FROM e0
         |  WHERE vec_id % 37 = 5 AND vec_id < 2000),
         |sc AS (SELECT probe_id, e0.vec_id AS neighbor_id, e0.d0_e6,
         |    CAST(floor(greatest(${dotSql("pv", "pv")}
         |      - 2.0 * ${dotSql("e0.rest", "pv")}
         |      + ${dotSql("e0.rest", "e0.rest")}, 0.0) * 1000000.0) AS BIGINT) AS adc_e6
         |  FROM e0 CROSS JOIN pr WHERE e0.vec_id <> pr.probe_id),
         |top3 AS (SELECT probe_id, d0_e6 FROM (
         |    SELECT probe_id, d0_e6, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY adc_e6, neighbor_id) AS rn FROM sc) t WHERE rn <= 3),
         |pred AS (SELECT probe_id, sum(d0_e6) // count(*) AS pred_e6,
         |    CAST(count(*) AS BIGINT) AS k_used
         |  FROM top3 GROUP BY probe_id)
         |SELECT pr.probe_id, pr.true_e6, CAST(pred.pred_e6 AS BIGINT) AS pred_e6,
         |  k_used, CAST(abs(pr.true_e6 - pred.pred_e6) AS BIGINT) AS abs_err_e6
         |FROM pr JOIN pred ON pr.probe_id = pred.probe_id
         |ORDER BY pr.probe_id""".stripMargin,

    // Western Electric replay: n-scaled deviations, squared kσ gates as
    // exact integer comparisons, rolling rule windows on the day spine.
    "q_we_rules" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(CAST(x AS HUGEINT)) AS s,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx FROM daily),
        |base AS (SELECT d, x, n * x - s AS dev, n * sxx - s * s AS vv,
        |    CAST(CASE WHEN n * x - s > 0 THEN 1 WHEN n * x - s < 0 THEN -1
        |      ELSE 0 END AS BIGINT) AS sgn
        |  FROM daily CROSS JOIN g),
        |flags AS (SELECT d, x, sgn,
        |    CASE WHEN dev * dev > 9 * vv THEN sgn ELSE 0 END AS b3,
        |    CASE WHEN dev * dev > 4 * vv THEN sgn ELSE 0 END AS b2,
        |    CASE WHEN dev * dev > vv THEN sgn ELSE 0 END AS b1
        |  FROM base),
        |rules AS (SELECT d, x, sgn,
        |    b3 <> 0 AS r1,
        |    sum(CASE WHEN b2 = 1 THEN 1 ELSE 0 END) OVER
        |      (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2
        |    OR sum(CASE WHEN b2 = -1 THEN 1 ELSE 0 END) OVER
        |      (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2 AS r2,
        |    sum(CASE WHEN b1 = 1 THEN 1 ELSE 0 END) OVER
        |      (ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) >= 4
        |    OR sum(CASE WHEN b1 = -1 THEN 1 ELSE 0 END) OVER
        |      (ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) >= 4 AS r3,
        |    abs(sum(sgn) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) = 8
        |    AND count(*) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 8
        |      AS r4
        |  FROM flags)
        |SELECT d AS day, x, sgn AS side, r1, r2, r3, r4
        |FROM rules ORDER BY day""".stripMargin,

    // Simpson replay: per-segment exact sufficient stats, pooled
    // re-sum, sign comparison on the normal-equation numerators.
    "q_simpson" ->
      """WITH b AS (SELECT c_mktsegment AS seg,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey),
        |ps AS (SELECT seg, CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM b GROUP BY seg),
        |pl AS (SELECT sum(n) * sum(sxy) - sum(sx) * sum(sy) AS pnum,
        |    sum(n) * sum(sxx) - sum(sx) * sum(sx) AS pden FROM ps)
        |SELECT seg, CAST(n AS BIGINT) AS n,
        |  CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
        |    AS slope_seg_e6,
        |  CAST(pnum * 1000000 // pden AS BIGINT) AS slope_pooled_e6,
        |  CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1
        |    WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS BIGINT) AS sign_seg,
        |  CAST(CASE WHEN pnum > 0 THEN 1 WHEN pnum < 0 THEN -1 ELSE 0 END AS BIGINT)
        |    AS sign_pooled,
        |  (CASE WHEN n * sxy - sx * sy > 0 THEN 1
        |    WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END)
        |   <> (CASE WHEN pnum > 0 THEN 1 WHEN pnum < 0 THEN -1 ELSE 0 END)
        |  AND (CASE WHEN n * sxy - sx * sy > 0 THEN 1
        |    WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END) <> 0 AS sign_flip
        |FROM ps CROSS JOIN pl ORDER BY seg""".stripMargin,

    // MMD replay: quadratic-kernel pair sums from moments, three
    // truncating e6 term divisions (never one common denominator).
    "q_mmd" ->
      """WITH m AS (SELECT lang,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS nb,
        |    sum(CASE WHEN doc_id % 2 = 0 THEN CAST(n_chars AS HUGEINT) ELSE 0 END) AS s1a,
        |    sum(CASE WHEN doc_id % 2 = 0 THEN CAST(0 AS HUGEINT) ELSE n_chars END) AS s1b,
        |    sum(CASE WHEN doc_id % 2 = 0 THEN CAST(n_chars AS HUGEINT) * n_chars ELSE 0 END) AS s2a,
        |    sum(CASE WHEN doc_id % 2 = 0 THEN CAST(0 AS HUGEINT) ELSE CAST(n_chars AS HUGEINT) * n_chars END) AS s2b
        |  FROM documents GROUP BY lang),
        |t AS (SELECT lang, na, nb,
        |    CAST((s2a * s2a + 2 * s1a * s1a + CAST(na AS HUGEINT) * na) * 1000000
        |      // (CAST(na AS HUGEINT) * na) AS BIGINT) AS kxx_e6,
        |    CAST((s2b * s2b + 2 * s1b * s1b + CAST(nb AS HUGEINT) * nb) * 1000000
        |      // (CAST(nb AS HUGEINT) * nb) AS BIGINT) AS kyy_e6,
        |    CAST((s2a * s2b + 2 * s1a * s1b + CAST(na AS HUGEINT) * nb) * 2000000
        |      // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS kxy2_e6
        |  FROM m)
        |SELECT lang, na, nb, kxx_e6, kyy_e6, kxy2_e6,
        |  kxx_e6 + kyy_e6 - kxy2_e6 AS mmd2_e6
        |FROM t ORDER BY lang""".stripMargin,

    // Cochran-Armitage replay: bucket cells, fraction-cleared N*T and
    // z^2 in one exact HUGEINT expression.
    "q_trend_test" ->
      """WITH urg AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |cells AS (SELECT
        |    least(greatest(CAST(floor((c_acctbal + 1000) / 2200) AS BIGINT), 0), 4) AS w,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN urg.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS r
        |  FROM customer LEFT JOIN urg USING (c_custkey) GROUP BY 1),
        |g AS (SELECT CAST(sum(n) AS HUGEINT) AS nn, CAST(sum(r) AS HUGEINT) AS rr,
        |    CAST(sum(w * n) AS HUGEINT) AS swn, CAST(sum(w * r) AS HUGEINT) AS swr,
        |    CAST(sum(w * w * n) AS HUGEINT) AS sw2n
        |  FROM cells)
        |SELECT CAST(nn AS BIGINT) AS n, CAST(rr AS BIGINT) AS r,
        |  CAST(nn * swr - rr * swn AS BIGINT) AS nt,
        |  CAST(CASE WHEN nn * swr - rr * swn > 0 THEN 1
        |    WHEN nn * swr - rr * swn < 0 THEN -1 ELSE 0 END AS BIGINT) AS trend_sign,
        |  CAST(CASE WHEN rr > 0 AND rr < nn THEN
        |    (nn * swr - rr * swn) * (nn * swr - rr * swn) * nn * 1000000
        |    // (rr * (nn - rr) * (nn * sw2n - swn * swn)) END AS BIGINT) AS z2_e6
        |FROM g""".stripMargin,

    // Moran's I replay: part revenue, truncated-mean centering, edge
    // cross-products over the lead-pair co-purchase edges.
    "q_moran" ->
      """WITH x AS (SELECT l_partkey AS node,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1),
        |mn AS (SELECT sum(x) // count(*) AS mu, CAST(count(*) AS BIGINT) AS n FROM x),
        |z AS (SELECT node, CAST(x - mu AS BIGINT) AS z, n FROM x CROSS JOIN mn),
        |bp AS (SELECT l_partkey AS src,
        |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
        |  FROM lineitem),
        |e AS (SELECT src, dst FROM (SELECT src, dst, count(*) AS c FROM bp
        |  WHERE dst IS NOT NULL GROUP BY 1, 2) t WHERE src <> dst),
        |num AS (SELECT sum(CAST(zi.z AS HUGEINT) * zj.z) AS szz,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM e JOIN z zi ON e.src = zi.node JOIN z zj ON e.dst = zj.node),
        |den AS (SELECT sum(CAST(z AS HUGEINT) * z) AS sz2, max(n) AS n FROM z)
        |SELECT CAST(n AS BIGINT) AS n, w AS w_edges,
        |  CAST(CAST(n AS HUGEINT) * szz * 1000000
        |    // (CAST(w AS HUGEINT) * sz2) AS BIGINT) AS moran_i_e6,
        |  CAST(-1000000 // (n - 1) AS BIGINT) AS e_i_e6
        |FROM num CROSS JOIN den""".stripMargin,

    // RMST replay: the KM recursive CTE extended with (prev t, running
    // S·Δt) accumulators, tail rectangle to τ = 14.
    "q_rmst" ->
      s"""WITH RECURSIVE $survivalTimesCtes,
        |r AS (
        |  SELECT rn, t, dd, cc, total AS n_prev,
        |    1000000 * (total - dd) // total AS s,
        |    1000000 * least(t, 14) AS rmst
        |  FROM d2, tot WHERE rn = 1
        |  UNION ALL
        |  SELECT d2.rn, d2.t, d2.dd, d2.cc,
        |    r.n_prev - r.dd - r.cc,
        |    r.s * (r.n_prev - r.dd - r.cc - d2.dd) // (r.n_prev - r.dd - r.cc),
        |    r.rmst + r.s * (least(d2.t, 14) - least(r.t, 14))
        |  FROM r JOIN d2 ON d2.rn = r.rn + 1)
        |SELECT total AS n_users,
        |  CAST(rmst + s * (14 - least(t, 14)) AS BIGINT) AS rmst_days_e6,
        |  CAST(14 AS BIGINT) AS tau_days
        |FROM r, tot WHERE rn = (SELECT max(rn) FROM d2)""".stripMargin,

    // Post-stratification replay: region x arm cells, cross-multiplied
    // stratum gaps, n_s-weighted combination vs the crude difference.
    "q_post_strat" ->
      """WITH urg AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |cells AS (SELECT n_regionkey AS region,
        |    c_mktsegment = 'BUILDING' AS treat,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN urg.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS r
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  LEFT JOIN urg USING (c_custkey)
        |  GROUP BY 1, 2),
        |strata AS (SELECT region,
        |    sum(CASE WHEN treat THEN n ELSE 0 END) AS nt,
        |    sum(CASE WHEN treat THEN r ELSE 0 END) AS rt,
        |    sum(CASE WHEN NOT treat THEN n ELSE 0 END) AS nc,
        |    sum(CASE WHEN NOT treat THEN r ELSE 0 END) AS rc
        |  FROM cells GROUP BY region),
        |s2 AS (SELECT *, nt + nc AS n_s,
        |    (rt * nc - rc * nt) * 1000000 // (nt * nc) AS diff_e6 FROM strata),
        |ov AS (SELECT
        |    (sum(rt) * sum(nc) - sum(rc) * sum(nt)) * 1000000
        |      // (sum(nt) * sum(nc)) AS crude_e6,
        |    sum(n_s * diff_e6) // sum(n_s) AS post_strat_e6
        |  FROM s2)
        |SELECT region, CAST(n_s AS BIGINT) AS n_s, CAST(nt AS BIGINT) AS nt,
        |  CAST(nc AS BIGINT) AS nc,
        |  CAST(rt * 1000000 // nt AS BIGINT) AS p_treat_e6,
        |  CAST(rc * 1000000 // nc AS BIGINT) AS p_ctrl_e6,
        |  CAST(diff_e6 AS BIGINT) AS diff_e6,
        |  CAST(crude_e6 AS BIGINT) AS crude_e6,
        |  CAST(post_strat_e6 AS BIGINT) AS post_strat_e6
        |FROM s2 CROSS JOIN ov ORDER BY region""".stripMargin,

    // Jackknife-ratio replay: leave-one-region-out deletion estimates,
    // HUGEINT sum of squared deviations, (g-1)/g variance.
    "q_jackknife_ratio" ->
      """WITH br AS (SELECT n_regionkey AS region,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ords
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |tot AS (SELECT sum(rev) AS tr, sum(ords) AS tor,
        |    CAST(count(*) AS BIGINT) AS g FROM br),
        |loo AS (SELECT region, g,
        |    (tr - rev) * 1000000 // (tor - ords) AS theta_loo_e6,
        |    tr * 1000000 // tor AS theta_e6
        |  FROM br CROSS JOIN tot),
        |jk AS (SELECT sum(theta_loo_e6) // count(*) AS tbar_e6 FROM loo),
        |v AS (SELECT loo.g AS n_strata, theta_e6, tbar_e6,
        |    CAST(floor(sqrt(CAST(sum(CAST(theta_loo_e6 - tbar_e6 AS HUGEINT)
        |        * (theta_loo_e6 - tbar_e6)) AS DOUBLE)
        |      * (loo.g - 1) / loo.g)) AS BIGINT) AS jk_se_e6
        |  FROM loo CROSS JOIN jk
        |  GROUP BY loo.g, theta_e6, tbar_e6)
        |SELECT loo.region, v.n_strata, CAST(v.theta_e6 AS BIGINT) AS theta_e6,
        |  CAST(loo.theta_loo_e6 AS BIGINT) AS theta_loo_e6,
        |  CAST(loo.theta_loo_e6 - v.theta_e6 AS BIGINT) AS influence_e6,
        |  v.jk_se_e6
        |FROM v CROSS JOIN loo ORDER BY loo.region""".stripMargin,

    // PSI replay: half-split on the day midpoint, log-width cents bins,
    // Laplace-smoothed proportions, e9-floored per-bin contributions.
    "q_psi" ->
      """WITH h AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vc
        |  FROM events),
        |mid AS (SELECT (min(d) + max(d) + 1) // 2 AS mid FROM h),
        |b AS (SELECT d >= mid AS cur,
        |    CAST(floor(ln(vc + 1.0) * 2.0) AS BIGINT) AS bin
        |  FROM h CROSS JOIN mid),
        |cells AS (SELECT bin,
        |    sum(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS c_base,
        |    sum(CASE WHEN cur THEN 1 ELSE 0 END) AS c_cur
        |  FROM b GROUP BY 1),
        |tot AS (SELECT sum(c_base) AS nb, sum(c_cur) AS nc,
        |    CAST(count(*) AS BIGINT) AS bb FROM cells),
        |terms AS (SELECT bin, c_base, c_cur,
        |    (c_base + 1) * 1000000 // (nb + bb) AS p_base_e6,
        |    (c_cur + 1) * 1000000 // (nc + bb) AS p_cur_e6,
        |    CAST(floor(((c_cur + 1) / (nc + bb) - (c_base + 1) / (nb + bb))
        |      * ln((CAST(c_cur + 1 AS DOUBLE) * (nb + bb))
        |          / (CAST(c_base + 1 AS DOUBLE) * (nc + bb)))
        |      * 1000000000.0 + 0.5) AS BIGINT) AS term_e9
        |  FROM cells CROSS JOIN tot),
        |p AS (SELECT sum(term_e9) AS psi_e9 FROM terms)
        |SELECT bin, CAST(c_base AS BIGINT) AS c_base,
        |  CAST(c_cur AS BIGINT) AS c_cur,
        |  CAST(p_base_e6 AS BIGINT) AS p_base_e6,
        |  CAST(p_cur_e6 AS BIGINT) AS p_cur_e6,
        |  term_e9, CAST(psi_e9 AS BIGINT) AS psi_e9
        |FROM terms CROSS JOIN p ORDER BY bin""".stripMargin,

    // Mutual-information replay: 5×7 contingency with margin-cross
    // scaffold, e9-floored cell terms, marginal entropies, NMI.
    "q_mutual_info" ->
      """WITH cells AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7 AS dow,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |rm AS (SELECT event_type, sum(o) AS r FROM cells GROUP BY 1),
        |cm AS (SELECT dow, sum(o) AS c FROM cells GROUP BY 1),
        |tot AS (SELECT sum(o) AS nn FROM cells),
        |grid AS (SELECT rm.event_type, cm.dow, coalesce(cells.o, 0) AS o,
        |    rm.r, cm.c, tot.nn
        |  FROM rm CROSS JOIN cm CROSS JOIN tot
        |  LEFT JOIN cells ON cells.event_type = rm.event_type
        |    AND cells.dow = cm.dow),
        |t AS (SELECT *, CASE WHEN o = 0 THEN 0 ELSE
        |    CAST(floor((o / nn)
        |      * ln((CAST(o AS DOUBLE) * nn) / (CAST(r AS DOUBLE) * c))
        |      * 1000000000.0 + 0.5) AS BIGINT) END AS term_e9
        |  FROM grid),
        |hx AS (SELECT sum(CAST(floor((r / nn) * ln(nn / r)
        |      * 1000000000.0 + 0.5) AS BIGINT)) AS hx_e9
        |  FROM rm CROSS JOIN tot),
        |hy AS (SELECT sum(CAST(floor((c / nn) * ln(nn / c)
        |      * 1000000000.0 + 0.5) AS BIGINT)) AS hy_e9
        |  FROM cm CROSS JOIN tot),
        |mi AS (SELECT sum(term_e9) AS mi_e9 FROM t)
        |SELECT event_type, dow, o, CAST(r AS BIGINT) AS r,
        |  CAST(c AS BIGINT) AS c, term_e9,
        |  CAST(mi_e9 AS BIGINT) AS mi_e9, CAST(hx_e9 AS BIGINT) AS hx_e9,
        |  CAST(hy_e9 AS BIGINT) AS hy_e9,
        |  CAST(floor(mi_e9 / sqrt(CAST(hx_e9 AS DOUBLE) * hy_e9)
        |    * 1000000.0 + 0.5) AS BIGINT) AS nmi_e6
        |FROM t CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy
        |ORDER BY event_type, dow""".stripMargin,

    // Max-drawdown replay: monthly cents revenue, cumulative +
    // running-peak windows over the month spine, max flagged.
    "q_drawdown" ->
      """WITH m AS (SELECT CAST(year(o_orderdate) * 12
        |      + month(o_orderdate) - 1 AS BIGINT) AS m,
        |    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_c
        |  FROM orders GROUP BY 1),
        |cc AS (SELECT m, rev_c,
        |    sum(rev_c) OVER (ORDER BY m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
        |  FROM m),
        |c AS (SELECT m, rev_c, cum_c,
        |    max(cum_c) OVER (ORDER BY m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak_c
        |  FROM cc),
        |d AS (SELECT *, peak_c - cum_c AS dd_c FROM c),
        |mx AS (SELECT max(dd_c) AS max_dd_c FROM d)
        |SELECT m, CAST(rev_c AS BIGINT) AS rev_c,
        |  CAST(cum_c AS BIGINT) AS cum_c, CAST(peak_c AS BIGINT) AS peak_c,
        |  CAST(dd_c AS BIGINT) AS dd_c, CAST(max_dd_c AS BIGINT) AS max_dd_c,
        |  dd_c = max_dd_c AND dd_c > 0 AS is_max_dd
        |FROM d CROSS JOIN mx ORDER BY m""".stripMargin,

    // Nelson-Aalen replay: KM lifetime contract, recursive fold
    // accumulating the e6 hazard, Breslow survival from the integer H.
    "q_nelson_aalen" ->
      s"""WITH RECURSIVE $survivalTimesCtes,
        |r AS (
        |  SELECT rn, t, dd, cc, total AS n, dd * 1000000 // total AS h
        |  FROM d2, tot WHERE rn = 1
        |  UNION ALL
        |  SELECT d2.rn, d2.t, d2.dd, d2.cc, r.n - r.dd - r.cc,
        |    r.h + d2.dd * 1000000 // (r.n - r.dd - r.cc)
        |  FROM r JOIN d2 ON d2.rn = r.rn + 1)
        |SELECT t, CAST(n AS BIGINT) AS n_risk, dd AS d_churn,
        |  CAST(h AS BIGINT) AS h_e6,
        |  CAST(floor(exp(-h / 1000000.0) * 1000000.0 + 0.5) AS BIGINT)
        |    AS s_breslow_e6
        |FROM r ORDER BY t""".stripMargin,

    // Aalen-Johansen replay: last-event cause label via arg_max,
    // recursive fold carrying (n, S, CIF1, CIF2) as exact e6 integers.
    "q_competing_risks" ->
      """WITH RECURSIVE u AS (
        |  SELECT user_id,
        |    min(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS f,
        |    max(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS l,
        |    arg_max(event_type, event_id) AS last_type
        |  FROM events GROUP BY user_id),
        |md AS (SELECT max(l) AS maxd FROM u),
        |byt AS (SELECT l - f AS t,
        |    CAST(sum(CASE WHEN l < maxd - 2 AND last_type = 'error'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN l < maxd - 2 AND last_type <> 'error'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |    CAST(sum(CASE WHEN l >= maxd - 2 THEN 1 ELSE 0 END) AS BIGINT) AS cc
        |  FROM u, md GROUP BY 1),
        |dr AS (SELECT t, d1, d2, cc, row_number() OVER (ORDER BY t) AS rn
        |  FROM byt),
        |tot AS (SELECT CAST(sum(d1 + d2 + cc) AS BIGINT) AS total FROM byt),
        |r AS (
        |  SELECT rn, t, d1, d2, cc, total AS n,
        |    1000000 * (total - d1 - d2) // total AS s,
        |    1000000 * d1 // total AS c1,
        |    1000000 * d2 // total AS c2
        |  FROM dr, tot WHERE rn = 1
        |  UNION ALL
        |  SELECT dr.rn, dr.t, dr.d1, dr.d2, dr.cc,
        |    r.n - r.d1 - r.d2 - r.cc,
        |    r.s * ((r.n - r.d1 - r.d2 - r.cc) - dr.d1 - dr.d2)
        |      // (r.n - r.d1 - r.d2 - r.cc),
        |    r.c1 + r.s * dr.d1 // (r.n - r.d1 - r.d2 - r.cc),
        |    r.c2 + r.s * dr.d2 // (r.n - r.d1 - r.d2 - r.cc)
        |  FROM r JOIN dr ON dr.rn = r.rn + 1)
        |SELECT t, CAST(n AS BIGINT) AS n_risk, d1, d2,
        |  CAST(s AS BIGINT) AS surv_e6, CAST(c1 AS BIGINT) AS cif1_e6,
        |  CAST(c2 AS BIGINT) AS cif2_e6
        |FROM r ORDER BY t""".stripMargin,

    // Hill replay: top-201 exact-cents order totals, per-k log-excess
    // sums over the shortlist, inverted mean at e6.
    "q_hill" ->
      """WITH top AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS xc
        |  FROM orders ORDER BY xc DESC LIMIT 201),
        |rk AS (SELECT xc, row_number() OVER (ORDER BY xc DESC) AS rnk
        |  FROM top),
        |grid AS (SELECT CAST(unnest([50, 100, 200]) AS BIGINT) AS k),
        |xk AS (SELECT k, xc AS xk_c FROM rk JOIN grid ON rnk = k + 1),
        |t AS (SELECT k, xk_c,
        |    CAST(floor(ln(xc / xk_c) * 1000000000.0 + 0.5) AS BIGINT)
        |      AS term_e9
        |  FROM rk JOIN xk ON rnk <= k)
        |SELECT k, xk_c, CAST(sum(term_e9) AS BIGINT) AS sum_log_e9,
        |  CAST(sum(term_e9) // k AS BIGINT) AS hill_inv_e9,
        |  CAST(1000000000000000 // (sum(term_e9) // k) AS BIGINT) AS alpha_e6
        |FROM t GROUP BY k, xk_c ORDER BY k""".stripMargin,

    // Price-index replay: matched 1995/2000 baskets, fraction-free
    // HUGEINT cross terms, Fisher as rounded sqrt of the two indices.
    "q_price_index" ->
      """WITH li AS (SELECT l_partkey AS pk, year(l_shipdate) AS yr,
        |    sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS r,
        |    sum(CAST(l_quantity AS BIGINT)) AS qq
        |  FROM lineitem WHERE year(l_shipdate) IN (1995, 2000)
        |  GROUP BY 1, 2),
        |b AS (SELECT pk, r AS r0, qq AS q0 FROM li WHERE yr = 1995),
        |c AS (SELECT pk, r AS r1, qq AS q1 FROM li WHERE yr = 2000),
        |j AS (SELECT CAST(r1 AS HUGEINT) * q0 // q1 AS p1q0, r0, r1,
        |    CAST(r0 AS HUGEINT) * q1 // q0 AS p0q1
        |  FROM b JOIN c USING (pk)),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_parts,
        |    sum(p1q0) AS s_p1q0, sum(r0) AS s_p0q0,
        |    sum(r1) AS s_p1q1, sum(p0q1) AS s_p0q1 FROM j)
        |SELECT n_parts, CAST(s_p1q0 AS BIGINT) AS s_p1q0,
        |  CAST(s_p0q0 AS BIGINT) AS s_p0q0,
        |  CAST(s_p1q1 AS BIGINT) AS s_p1q1,
        |  CAST(s_p0q1 AS BIGINT) AS s_p0q1,
        |  CAST(s_p1q0 * 1000000 // s_p0q0 AS BIGINT) AS laspeyres_e6,
        |  CAST(CAST(s_p1q1 AS HUGEINT) * 1000000 // s_p0q1 AS BIGINT)
        |    AS paasche_e6,
        |  CAST(floor(sqrt(CAST(s_p1q0 * 1000000 // s_p0q0 AS DOUBLE)
        |    * (CAST(s_p1q1 AS HUGEINT) * 1000000 // s_p0q1)) + 0.5)
        |    AS BIGINT) AS fisher_e6
        |FROM s""".stripMargin,

    // Elasticity replay: e6-floored log pairs, HUGEINT moments, the
    // same integral slope/intercept/r2 chain.
    "q_elasticity" ->
      """WITH rows_ AS (SELECT p_brand AS brand,
        |    CAST(floor(ln(round(l_extendedprice * 100, 0) / l_quantity)
        |      * 1000000.0 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(ln(l_quantity) * 1000000.0 + 0.5) AS BIGINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |m AS (SELECT brand, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM rows_ GROUP BY 1)
        |SELECT brand, n,
        |  CAST((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
        |    // (n * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS slope_e6,
        |  CAST((sy - (n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
        |    // (n * sxx - CAST(sx AS HUGEINT) * sx) * sx // 1000000)
        |    // n AS BIGINT) AS intercept_e6,
        |  CAST(((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
        |    // (n * sxx - CAST(sx AS HUGEINT) * sx))
        |    * ((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
        |    // (n * syy - CAST(sy AS HUGEINT) * sy))
        |    // 1000000 AS BIGINT) AS r2_e6
        |FROM m ORDER BY brand""".stripMargin,

    // Theil replay: per-customer e9-floored log terms, nation rollup,
    // e6 shares and between-group terms.
    "q_theil" ->
      """WITH cr AS (SELECT c_nationkey AS nat,
        |    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY o_custkey, c_nationkey),
        |g AS (SELECT nat, CAST(count(*) AS BIGINT) AS n_g,
        |    sum(x) AS s_g FROM cr GROUP BY 1),
        |tot AS (SELECT sum(n_g) AS nn, sum(s_g) AS ss FROM g),
        |w AS (SELECT cr.nat,
        |    sum(CAST(floor((CAST(x AS DOUBLE) * n_g / s_g)
        |      * ln(CAST(x AS DOUBLE) * n_g / s_g)
        |      * 1000000000.0 + 0.5) AS BIGINT)) AS tsum_e9
        |  FROM cr JOIN g ON cr.nat = g.nat GROUP BY cr.nat)
        |SELECT g.nat, g.n_g, CAST(g.s_g AS BIGINT) AS s_g,
        |  CAST(g.s_g * 1000000 // ss AS BIGINT) AS share_e6,
        |  CAST(tsum_e9 // n_g AS BIGINT) AS theil_within_e9,
        |  CAST(floor((CAST(g.s_g AS DOUBLE) / ss)
        |    * ln((CAST(g.s_g AS DOUBLE) * nn) / (CAST(ss AS DOUBLE) * g.n_g))
        |    * 1000000000.0 + 0.5) AS BIGINT) AS between_term_e9
        |FROM g JOIN w ON g.nat = w.nat CROSS JOIN tot
        |ORDER BY g.nat""".stripMargin,

    // Periodogram replay: n-scaled centering, e9-floored trig weights
    // per cell, HUGEINT dot products descaled before squaring.
    "q_periodogram" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS s,
        |    min(d) AS d0 FROM daily),
        |grid AS (SELECT CAST(unnest(range(2, 11)) AS BIGINT) AS p),
        |cells AS (SELECT p, n * x - s AS y,
        |    CAST(floor(cos(2.0 * acos(-1.0) * (d - d0) / p)
        |      * 1000000000.0 + 0.5) AS BIGINT) AS c,
        |    CAST(floor(sin(2.0 * acos(-1.0) * (d - d0) / p)
        |      * 1000000000.0 + 0.5) AS BIGINT) AS sn
        |  FROM daily CROSS JOIN g CROSS JOIN grid),
        |pw AS (SELECT p,
        |    sum(CAST(y AS HUGEINT) * c) AS sc,
        |    sum(CAST(y AS HUGEINT) * sn) AS ss
        |  FROM cells GROUP BY 1),
        |pp AS (SELECT p,
        |    CAST((sc // 1000000000) * (sc // 1000000000)
        |      + (ss // 1000000000) * (ss // 1000000000) AS BIGINT) AS power
        |  FROM pw),
        |mx AS (SELECT max(power) AS max_power FROM pp)
        |SELECT p, power, power = max_power AS is_dominant
        |FROM pp CROSS JOIN mx ORDER BY p""".stripMargin,

    // Yule-Walker replay: lag equi-joins for exact autocovariances,
    // descaled HUGEINT phi ratios.
    "q_yule_walker" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS s FROM daily),
        |y AS (SELECT d, n * x - s AS y, n FROM daily CROSS JOIN g),
        |g0 AS (SELECT sum(CAST(a.y AS HUGEINT) * b.y) // 1000000 AS gd0
        |  FROM y a JOIN y b ON b.d = a.d),
        |g1 AS (SELECT sum(CAST(a.y AS HUGEINT) * b.y) // 1000000 AS gd1
        |  FROM y a JOIN y b ON b.d = a.d + 1),
        |g2 AS (SELECT sum(CAST(a.y AS HUGEINT) * b.y) // 1000000 AS gd2
        |  FROM y a JOIN y b ON b.d = a.d + 2)
        |SELECT (SELECT max(n) FROM y) AS n_days,
        |  CAST(gd0 AS BIGINT) AS g0_e_6, CAST(gd1 AS BIGINT) AS g1_e_6,
        |  CAST(gd2 AS BIGINT) AS g2_e_6,
        |  CAST((gd1 * gd0 - gd1 * gd2) * 1000000
        |    // (gd0 * gd0 - gd1 * gd1) AS BIGINT) AS phi1_e6,
        |  CAST((gd2 * gd0 - gd1 * gd1) * 1000000
        |    // (gd0 * gd0 - gd1 * gd1) AS BIGINT) AS phi2_e6,
        |  CAST(1000000 - ((gd1 * gd0 - gd1 * gd2) * 1000000
        |      // (gd0 * gd0 - gd1 * gd1) * gd1
        |    + (gd2 * gd0 - gd1 * gd1) * 1000000
        |      // (gd0 * gd0 - gd1 * gd1) * gd2) // gd0 AS BIGINT)
        |    AS resid_ratio_e6
        |FROM g0 CROSS JOIN g1 CROSS JOIN g2""".stripMargin,

    // SPRT replay: shared e9 log-ratio literals, cumulative LLR over
    // the day spine, first-crossing flag.
    "q_sprt" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS trials,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS conv
        |  FROM events GROUP BY 1),
        |l AS (SELECT d, trials, conv,
        |    conv * 200670695 + (trials - conv) * (-50010421) AS llr_day_e9
        |  FROM daily),
        |c AS (SELECT *, sum(llr_day_e9) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr_cum_e9
        |  FROM l),
        |v AS (SELECT *, CASE WHEN llr_cum_e9 >= 2944438979 THEN 'h1'
        |    WHEN llr_cum_e9 <= -2944438979 THEN 'h0'
        |    ELSE 'continue' END AS decision FROM c),
        |f AS (SELECT coalesce(min(d), 9223372036854775807) AS fd
        |  FROM v WHERE decision <> 'continue')
        |SELECT d, trials, conv, CAST(llr_day_e9 AS BIGINT) AS llr_day_e9,
        |  CAST(llr_cum_e9 AS BIGINT) AS llr_cum_e9, decision,
        |  d = fd AS is_first_decision
        |FROM v CROSS JOIN f ORDER BY d""".stripMargin,

    // Yule's K replay: term frequency spectrum per source, HUGEINT
    // sum of squared counts, e6 integral K, e6-floored Herdan C.
    "q_yule_k" ->
      """WITH t AS (SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |cnt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |  FROM t WHERE length(token) >= 2 GROUP BY 1, 2),
        |s AS (SELECT source, sum(c) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    sum(CAST(c AS HUGEINT) * c) AS s2
        |  FROM cnt GROUP BY 1)
        |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, n_types,
        |  CAST((s2 - n_tokens) * 10000000000
        |    // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT) AS yule_k_e6,
        |  CAST(floor(ln(CAST(n_types AS DOUBLE))
        |    / ln(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
        |    AS herdan_c_e6
        |FROM s ORDER BY source""".stripMargin,

    // Heaps replay: first-doc per token, geometric checkpoint grid,
    // log-log OLS with e6-floored logs and HUGEINT moments.
    "q_heaps" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tk AS (SELECT doc_id, token FROM tok WHERE length(token) >= 2),
        |md AS (SELECT max(doc_id) AS md FROM tk),
        |grid AS (SELECT DISTINCT md // (1 << CAST(j AS INTEGER)) AS thr
        |  FROM (SELECT unnest(range(10)) AS j), md),
        |f AS (SELECT token, min(doc_id) AS fd FROM tk GROUP BY 1),
        |va AS (SELECT thr, CAST(count(*) AS BIGINT) AS vocab
        |  FROM f CROSS JOIN grid WHERE fd <= thr GROUP BY 1),
        |dm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS k
        |  FROM tk GROUP BY 1),
        |ma AS (SELECT thr, sum(k) AS n_tokens
        |  FROM dm CROSS JOIN grid WHERE doc_id <= thr GROUP BY 1),
        |pts AS (SELECT va.thr, CAST(n_tokens AS BIGINT) AS n_tokens, vocab,
        |    CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5)
        |      AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1000000.0 + 0.5)
        |      AS BIGINT) AS y
        |  FROM va JOIN ma ON va.thr = ma.thr),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS np, sum(x) AS sx,
        |    sum(y) AS sy, sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy FROM pts),
        |fit AS (SELECT
        |    CAST((np * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
        |      // (np * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS beta_e6,
        |    CAST((sy - (np * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
        |      // (np * sxx - CAST(sx AS HUGEINT) * sx) * sx // 1000000)
        |      // np AS BIGINT) AS lnk_e6
        |  FROM m)
        |SELECT thr, n_tokens, vocab, beta_e6, lnk_e6
        |FROM pts CROSS JOIN fit ORDER BY thr""".stripMargin,

    // DP-histogram replay: portable-hash uniform per cell, exact
    // rational Laplace transform, truncating rounded noisy count.
    "q_dp_histogram" ->
      s"""WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_true
         |  FROM documents GROUP BY 1, 2),
         |k AS (SELECT *, ${hSql("concat(source, ':', lang)")} % 1000000 AS k
         |  FROM cells),
         |n AS (SELECT source, lang, n_true, k AS u_e6,
         |    CAST(floor((0.0 - sign(k * 2 - 999999))
         |      * ln((1000000 - abs(k * 2 - 999999)) / 1000000.0)
         |      * 1000000.0 + 0.5) AS BIGINT) AS noise_e6
         |  FROM k)
         |SELECT source, lang, n_true, u_e6, noise_e6,
         |  (n_true * 1000000 + noise_e6 + 500000) // 1000000 AS noisy_count
         |FROM n ORDER BY source, lang""".stripMargin,

    // AIPW replay: one conditional-moment pass, three HUGEINT OLS
    // closed forms, clipped e6 propensity, truncating psi fold.
    "q_aipw" ->
      """WITH u AS (SELECT CAST(count(*) AS BIGINT) AS x,
        |    CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      >= 14 THEN 1 ELSE 0 END AS d,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx, sum(d) AS sd,
        |    sum(x * d) AS sxd,
        |    sum(CASE WHEN d = 1 THEN y END) AS syt,
        |    sum(CASE WHEN d = 1 THEN CAST(x AS HUGEINT) * y END) AS sxyt,
        |    sum(CASE WHEN d = 1 THEN CAST(x AS HUGEINT) * x END) AS sxxt,
        |    sum(CASE WHEN d = 1 THEN x END) AS sxt,
        |    sum(CASE WHEN d = 0 THEN y END) AS syc,
        |    sum(CASE WHEN d = 0 THEN CAST(x AS HUGEINT) * y END) AS sxyc,
        |    sum(CASE WHEN d = 0 THEN CAST(x AS HUGEINT) * x END) AS sxxc,
        |    sum(CASE WHEN d = 0 THEN x END) AS sxc
        |  FROM u),
        |co AS (SELECT *, sd AS nt, n - sd AS nc,
        |    (n * sxd - CAST(sx AS HUGEINT) * sd) * 1000000
        |      // (n * sxx - CAST(sx AS HUGEINT) * sx) AS b_e_e6
        |  FROM m),
        |co2 AS (SELECT *,
        |    (CAST(sd AS HUGEINT) * 1000000 - b_e_e6 * sx) // n AS a_e_e6,
        |    (nt * sxyt - CAST(sxt AS HUGEINT) * syt) * 1000000
        |      // (nt * sxxt - CAST(sxt AS HUGEINT) * sxt) AS b1_e6,
        |    (nc * sxyc - CAST(sxc AS HUGEINT) * syc) * 1000000
        |      // (nc * sxxc - CAST(sxc AS HUGEINT) * sxc) AS b0_e6
        |  FROM co),
        |co3 AS (SELECT *,
        |    (CAST(syt AS HUGEINT) * 1000000 - b1_e6 * sxt) // nt AS a1_e6,
        |    (CAST(syc AS HUGEINT) * 1000000 - b0_e6 * sxc) // nc AS a0_e6
        |  FROM co2),
        |psi AS (SELECT co3.n, co3.nt, co3.nc, co3.b_e_e6, co3.b1_e6,
        |    co3.b0_e6, co3.syt, co3.syc,
        |    co3.a1_e6 + co3.b1_e6 * u.x - co3.a0_e6 - co3.b0_e6 * u.x
        |    + u.d * (CAST(u.y AS HUGEINT) * 1000000
        |        - co3.a1_e6 - co3.b1_e6 * u.x) * 1000000
        |      // greatest(50000, least(950000, co3.a_e_e6 + co3.b_e_e6 * u.x))
        |    - (1 - u.d) * (CAST(u.y AS HUGEINT) * 1000000
        |        - co3.a0_e6 - co3.b0_e6 * u.x) * 1000000
        |      // (1000000
        |        - greatest(50000, least(950000, co3.a_e_e6 + co3.b_e_e6 * u.x)))
        |      AS psi_e6
        |  FROM u CROSS JOIN co3)
        |SELECT n AS n_users, CAST(nt AS BIGINT) AS n_treated,
        |  CAST(nc AS BIGINT) AS n_control,
        |  CAST(b_e_e6 AS BIGINT) AS b_e_e6, CAST(b1_e6 AS BIGINT) AS b1_e6,
        |  CAST(b0_e6 AS BIGINT) AS b0_e6,
        |  CAST(CAST(syt AS HUGEINT) * 1000000 // nt
        |    - CAST(syc AS HUGEINT) * 1000000 // nc AS BIGINT)
        |    AS naive_diff_e6,
        |  CAST(sum(psi_e6) // n AS BIGINT) AS ate_aipw_e6
        |FROM psi
        |GROUP BY n, nt, nc, b_e_e6, b1_e6, b0_e6, syt, syc""".stripMargin,

    // Matching replay: arm value supports, support x support NN with
    // (dist, xc) tie order, weighted truncating ATT.
    "q_matching_att" ->
      """WITH u AS (SELECT CAST(count(*) AS BIGINT) AS x,
        |    CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      >= 14 THEN 1 ELSE 0 END AS d,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |ts AS (SELECT x, CAST(count(*) AS BIGINT) AS n_t, sum(y) AS sy_t
        |  FROM u WHERE d = 1 GROUP BY 1),
        |cs AS (SELECT x AS xc, CAST(count(*) AS BIGINT) AS n_c,
        |    sum(y) AS sy_c FROM u WHERE d = 0 GROUP BY 1),
        |nn AS (SELECT x, n_t, sy_t, xc, n_c, sy_c,
        |    row_number() OVER (PARTITION BY x
        |      ORDER BY abs(x - xc), xc) AS rn
        |  FROM ts CROSS JOIN cs),
        |sel AS (SELECT x, n_t, xc AS x_matched, n_c,
        |    CAST(CAST(sy_t AS HUGEINT) * 1000000 // n_t
        |      - CAST(sy_c AS HUGEINT) * 1000000 // n_c AS BIGINT) AS diff_e6
        |  FROM nn WHERE rn = 1),
        |att AS (SELECT CAST(sum(CAST(n_t AS HUGEINT) * diff_e6)
        |    // sum(n_t) AS BIGINT) AS att_e6 FROM sel)
        |SELECT x, n_t, x_matched, n_c, diff_e6, att_e6
        |FROM sel CROSS JOIN att ORDER BY x""".stripMargin,

    // RANSAC replay: hash-seeded candidate pairs, exact integer inlier
    // predicate, best-round OLS refit, all-data OLS for contrast.
    "q_ransac" ->
      s"""WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |      THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS y
         |  FROM events GROUP BY user_id),
         |m0 AS (SELECT r,
         |    (min(struct_pack(
         |      h := ${hSql("concat('ransac:a:', r, ':', user_id)")},
         |      x := x, y := y))).x AS x1,
         |    (min(struct_pack(
         |      h := ${hSql("concat('ransac:a:', r, ':', user_id)")},
         |      x := x, y := y))).y AS y1,
         |    (min(struct_pack(
         |      h := ${hSql("concat('ransac:b:', r, ':', user_id)")},
         |      x := x, y := y))).x AS x2,
         |    (min(struct_pack(
         |      h := ${hSql("concat('ransac:b:', r, ':', user_id)")},
         |      x := x, y := y))).y AS y2
         |  FROM u
         |  CROSS JOIN (SELECT CAST(unnest(range(64)) AS BIGINT) AS r)
         |  GROUP BY r),
         |models AS (SELECT * FROM m0 WHERE x1 <> x2),
         |scored AS (SELECT r, x1, y1, x2, y2,
         |    CAST(sum(CASE WHEN abs(CAST(u.y - y1 AS HUGEINT) * (x2 - x1)
         |        - CAST(y2 - y1 AS HUGEINT) * (u.x - x1))
         |      <= CAST(300000 AS HUGEINT) * abs(x2 - x1)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers
         |  FROM u CROSS JOIN models GROUP BY r, x1, y1, x2, y2),
         |best AS (SELECT * FROM scored ORDER BY n_inliers DESC, r LIMIT 1),
         |refit AS (SELECT r AS best_round, n_inliers,
         |    CAST(count(*) AS BIGINT) AS nf, sum(u.x) AS sx, sum(u.y) AS sy,
         |    sum(CAST(u.x AS HUGEINT) * u.x) AS sxx,
         |    sum(CAST(u.x AS HUGEINT) * u.y) AS sxy
         |  FROM u CROSS JOIN best
         |  WHERE abs(CAST(u.y - y1 AS HUGEINT) * (x2 - x1)
         |      - CAST(y2 - y1 AS HUGEINT) * (u.x - x1))
         |    <= CAST(300000 AS HUGEINT) * abs(x2 - x1)
         |  GROUP BY r, n_inliers),
         |ols AS (SELECT CAST((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
         |      // (n * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS b_ols_e6
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
         |      sum(y) AS sy, sum(CAST(x AS HUGEINT) * x) AS sxx,
         |      sum(CAST(x AS HUGEINT) * y) AS sxy FROM u))
         |SELECT best_round, n_inliers,
         |  CAST((nf * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
         |    // (nf * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS b_ransac_e6,
         |  CAST((CAST(sy AS HUGEINT) * 1000000
         |    - (nf * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
         |      // (nf * sxx - CAST(sx AS HUGEINT) * sx) * sx) // nf AS BIGINT)
         |    AS a_ransac_e6,
         |  b_ols_e6
         |FROM refit CROSS JOIN ols""".stripMargin,

    // Rank-1 ALS replay: 3 unrolled half-sweeps with truncating e6
    // factors, observed-cell sums in HUGEINT.
    "q_als_rank1" ->
      """WITH r AS (SELECT user_id AS u, event_id % 40 + 1 AS item,
        |    CAST(count(*) AS BIGINT) AS r
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2),
        |u1 AS (SELECT u,
        |    CAST(sum(CAST(r AS HUGEINT) * 1000000) * 1000000
        |      // (sum(CAST(1000000 AS HUGEINT) * 1000000) // 1000000)
        |      AS BIGINT) AS u_e6
        |  FROM r GROUP BY u),
        |v1 AS (SELECT item,
        |    CAST(sum(CAST(r.r AS HUGEINT) * u_e6) * 1000000
        |      // (sum(CAST(u_e6 AS HUGEINT) * u_e6) // 1000000)
        |      AS BIGINT) AS v_e6
        |  FROM r JOIN u1 USING (u) GROUP BY item),
        |u2 AS (SELECT u,
        |    CAST(sum(CAST(r.r AS HUGEINT) * v_e6) * 1000000
        |      // (sum(CAST(v_e6 AS HUGEINT) * v_e6) // 1000000)
        |      AS BIGINT) AS u_e6
        |  FROM r JOIN v1 USING (item) GROUP BY u),
        |pop AS (SELECT item, sum(r) AS n_ratings FROM r GROUP BY item),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(u_e6) // count(*) AS BIGINT) AS mean_u_e6 FROM u2)
        |SELECT v1.item, CAST(n_ratings AS BIGINT) AS n_ratings, v_e6,
        |  n_users, mean_u_e6
        |FROM v1 JOIN pop USING (item) CROSS JOIN g
        |ORDER BY item""".stripMargin,

    // FD-audit replay: one count-distinct aggregate per declared
    // candidate, unioned.
    "q_fd_check" ->
      """WITH c1 AS (SELECT 'o_custkey->c_nationkey' AS fd,
        |    CAST(count(*) AS BIGINT) AS n_lhs,
        |    CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(max(nb) AS BIGINT) AS max_fanout
        |  FROM (SELECT o_custkey, count(DISTINCT c_nationkey) AS nb
        |    FROM orders JOIN customer ON o_custkey = c_custkey
        |    GROUP BY 1)),
        |c2 AS (SELECT 'l_partkey->p_brand',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nb) AS BIGINT)
        |  FROM (SELECT l_partkey, count(DISTINCT p_brand) AS nb
        |    FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1)),
        |c3 AS (SELECT 'o_orderpriority->o_orderstatus',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nb) AS BIGINT)
        |  FROM (SELECT o_orderpriority, count(DISTINCT o_orderstatus) AS nb
        |    FROM orders GROUP BY 1)),
        |c4 AS (SELECT 'user_id->event_type',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nb) AS BIGINT)
        |  FROM (SELECT user_id, count(DISTINCT event_type) AS nb
        |    FROM events GROUP BY 1)),
        |c5 AS (SELECT 'l_orderkey->l_returnflag',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nb) AS BIGINT)
        |  FROM (SELECT l_orderkey, count(DISTINCT l_returnflag) AS nb
        |    FROM lineitem GROUP BY 1)),
        |allc AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2
        |  UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4
        |  UNION ALL SELECT * FROM c5)
        |SELECT fd, n_lhs, n_violating, max_fanout,
        |  n_violating = 0 AS holds
        |FROM allc ORDER BY fd""".stripMargin,

    // ABC replay: log2 revenue bins, top-down cumulative share over
    // the bin support, boundary-exclusive class cut.
    "q_abc_analysis" ->
      """WITH pr AS (SELECT
        |    sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rev
        |  FROM lineitem GROUP BY l_partkey),
        |pb AS (SELECT rev,
        |    CAST(floor(ln(CAST(rev AS DOUBLE)) / ln(2.0)) AS BIGINT) AS bin
        |  FROM pr),
        |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_parts,
        |    sum(rev) AS rev_c FROM pb GROUP BY 1),
        |tot AS (SELECT sum(rev_c) AS tt FROM bins),
        |c AS (SELECT bin, n_parts, rev_c,
        |    rev_c * 1000000 // tt AS share_e6,
        |    sum(rev_c) OVER (ORDER BY bin DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      * 1000000 // tt AS cum_share_e6
        |  FROM bins CROSS JOIN tot)
        |SELECT bin, n_parts, CAST(rev_c AS BIGINT) AS rev_c,
        |  CAST(share_e6 AS BIGINT) AS share_e6,
        |  CAST(cum_share_e6 AS BIGINT) AS cum_share_e6,
        |  CASE WHEN cum_share_e6 - share_e6 < 800000 THEN 'A'
        |    WHEN cum_share_e6 - share_e6 < 950000 THEN 'B'
        |    ELSE 'C' END AS abc_class
        |FROM c ORDER BY bin DESC""".stripMargin,

    // Wasserstein replay: half-split, value-support CDFs cross-scaled
    // fraction-free, gap-weighted HUGEINT sum.
    "q_wasserstein" ->
      """WITH h AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events),
        |mid AS (SELECT (min(d) + max(d) + 1) // 2 AS mid FROM h),
        |sup AS (SELECT vc,
        |    CAST(sum(CASE WHEN d < mid THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN d >= mid THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM h CROSS JOIN mid GROUP BY 1),
        |tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM sup),
        |cum AS (SELECT vc,
        |    sum(c1) OVER (ORDER BY vc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc1,
        |    sum(c2) OVER (ORDER BY vc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc2,
        |    lead(vc) OVER (ORDER BY vc) - vc AS gap
        |  FROM sup),
        |f AS (SELECT * FROM cum WHERE gap IS NOT NULL)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(sum(abs(CAST(cc1 AS HUGEINT) * n2 - CAST(cc2 AS HUGEINT) * n1)
        |      * gap) * 1000000 // (CAST(n1 AS HUGEINT) * n2) AS BIGINT)
        |    AS w1_cents_e6
        |FROM f CROSS JOIN tot GROUP BY n1, n2""".stripMargin,

    // Tracking-signal replay: recursive SES/CFE/MAD state walk with
    // the same truncating e6 updates.
    "q_tracking_signal" ->
      """WITH RECURSIVE daily AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |o AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM daily),
        |r AS (
        |  SELECT rn, d, x, x * 1000000 AS f_used, CAST(0 AS BIGINT) AS err,
        |    CAST(0 AS BIGINT) AS cfe, CAST(0 AS BIGINT) AS smad,
        |    x * 1000000 AS f_next
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.rn, o.d, o.x, r.f_next, o.x * 1000000 - r.f_next,
        |    r.cfe + o.x * 1000000 - r.f_next,
        |    (abs(o.x * 1000000 - r.f_next) * 3 + r.smad * 7) // 10,
        |    r.f_next + (o.x * 1000000 - r.f_next) * 3 // 10
        |  FROM r JOIN o ON o.rn = r.rn + 1)
        |SELECT d, x, CAST(f_used AS BIGINT) AS f_e6,
        |  CAST(err AS BIGINT) AS err_e6, CAST(cfe AS BIGINT) AS cfe_e6,
        |  CAST(smad AS BIGINT) AS smad_e6,
        |  CASE WHEN smad = 0 THEN 0
        |    ELSE CAST(cfe * 1000000 // smad AS BIGINT) END AS ts_e6
        |FROM r ORDER BY d""".stripMargin,

    // Cointegration replay: stage-1 HUGEINT OLS, exact e6 residuals,
    // stage-2 descaled Dickey-Fuller moments and double t-stat.
    "q_cointegration" ->
      """WITH daily AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy FROM daily),
        |co AS (SELECT *, (n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
        |    // (n * sxx - CAST(sx AS HUGEINT) * sx) AS b_e6 FROM m),
        |co2 AS (SELECT *,
        |    (CAST(sy AS HUGEINT) * 1000000 - b_e6 * sx) // n AS a_e6
        |  FROM co),
        |res AS (SELECT d, y * 1000000 - a_e6 - b_e6 * x AS r
        |  FROM daily CROSS JOIN co2),
        |j AS (SELECT a.r - b.r AS dr, b.r AS rl
        |  FROM res a JOIN res b ON a.d = b.d + 1),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS nd,
        |    sum(CAST(rl AS HUGEINT) * dr // 1000000) AS srd,
        |    sum(CAST(rl AS HUGEINT) * rl // 1000000) AS srr,
        |    sum(CAST(dr AS HUGEINT) * dr // 1000000) AS sdd
        |  FROM j)
        |SELECT co2.n AS n_days, CAST(co2.b_e6 AS BIGINT) AS b_e6,
        |  CAST(co2.a_e6 AS BIGINT) AS a_e6, mm.nd,
        |  CAST(srd * 1000000 // srr AS BIGINT) AS rho_e6,
        |  CAST(floor((CAST(srd AS DOUBLE) / srr)
        |    * sqrt(CAST(srr AS DOUBLE) * (nd - 2)
        |      / (CAST(sdd AS DOUBLE) - CAST(srd AS DOUBLE) * srd / srr))
        |    * 1000000.0 + 0.5) AS BIGINT) AS df_t_e6
        |FROM mm CROSS JOIN co2""".stripMargin,

    // JL-projection replay: hash-signed 8x64 matrix, exact integer
    // projections, 100 hash-chosen pair distortions.
    "q_random_projection" ->
      s"""WITH q AS (SELECT vec_id, unnest(range(len(embedding))) AS dim,
         |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
         |      AS BIGINT) AS qx
         |  FROM embeddings),
         |signs AS (SELECT k, dim,
         |    1 - (${hSql("concat('rp:', k, ':', dim)")} % 2) * 2 AS s
         |  FROM (SELECT CAST(unnest(range(8)) AS BIGINT) AS k)
         |  CROSS JOIN (SELECT CAST(unnest(range(64)) AS BIGINT) AS dim)),
         |proj AS (SELECT vec_id, k, sum(qx * s) AS y
         |  FROM q JOIN signs USING (dim) GROUP BY 1, 2),
         |pairs AS (SELECT pair,
         |    (min(struct_pack(h := ${hSql("concat('rp:a:', pair, ':', vec_id)")},
         |      v := vec_id))).v AS a,
         |    (min(struct_pack(h := ${hSql("concat('rp:b:', pair, ':', vec_id)")},
         |      v := vec_id))).v AS b
         |  FROM embeddings
         |  CROSS JOIN (SELECT CAST(unnest(range(100)) AS BIGINT) AS pair)
         |  GROUP BY pair),
         |pf AS (SELECT * FROM pairs WHERE a <> b),
         |do0 AS (SELECT pair, pf.a, pf.b,
         |    sum(CAST(qa.qx - qb.qx AS HUGEINT) * (qa.qx - qb.qx)) AS d2o
         |  FROM pf JOIN q qa ON qa.vec_id = pf.a
         |  JOIN q qb ON qb.vec_id = pf.b AND qb.dim = qa.dim
         |  GROUP BY 1, 2, 3),
         |do_ AS (SELECT * FROM do0 WHERE d2o > 0),
         |dp_ AS (SELECT pair,
         |    sum(CAST(pa.y - pb.y AS HUGEINT) * (pa.y - pb.y)) AS d2p
         |  FROM pf JOIN proj pa ON pa.vec_id = pf.a
         |  JOIN proj pb ON pb.vec_id = pf.b AND pb.k = pa.k
         |  GROUP BY 1),
         |per AS (SELECT do_.pair, a, b,
         |    CAST(d2o // 1000000 AS BIGINT) AS d2_orig_e6,
         |    CAST(d2p * 1000000 // (8 * d2o) AS BIGINT) AS ratio_e6
         |  FROM do_ JOIN dp_ ON do_.pair = dp_.pair),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(ratio_e6) // count(*) AS BIGINT) AS mean_ratio_e6,
         |    CAST(max(abs(ratio_e6 - 1000000)) AS BIGINT)
         |      AS max_distortion_e6
         |  FROM per)
         |SELECT pair, a, b, d2_orig_e6, ratio_e6, n_pairs, mean_ratio_e6,
         |  max_distortion_e6
         |FROM per CROSS JOIN agg ORDER BY pair""".stripMargin,

    // COEC replay: position-prior rates, article expected clicks in
    // HUGEINT, e6 observed/expected.
    "q_position_bias" ->
      """WITH ev AS (SELECT event_id % 40 + 1 AS article,
        |    event_id % 10 AS pos, event_type = 'click' AS is_click
        |  FROM events WHERE event_type IN ('view', 'click')),
        |pr AS (SELECT pos,
        |    CAST(sum(CASE WHEN is_click THEN 0 ELSE 1 END) AS BIGINT)
        |      AS views_p,
        |    CAST(sum(CASE WHEN is_click THEN 1 ELSE 0 END) AS BIGINT)
        |      AS clicks_p
        |  FROM ev GROUP BY 1),
        |pr2 AS (SELECT pos, clicks_p * 1000000 // nullif(views_p, 0)
        |    AS rate_e6
        |  FROM pr),
        |ap AS (SELECT article, pos,
        |    CAST(sum(CASE WHEN is_click THEN 0 ELSE 1 END) AS BIGINT)
        |      AS views,
        |    CAST(sum(CASE WHEN is_click THEN 1 ELSE 0 END) AS BIGINT)
        |      AS clicks
        |  FROM ev GROUP BY 1, 2),
        |a AS (SELECT article, sum(views) AS views, sum(clicks) AS clicks,
        |    sum(CAST(views AS HUGEINT) * rate_e6) AS expected_e6
        |  FROM ap JOIN pr2 USING (pos) GROUP BY 1)
        |SELECT article, CAST(views AS BIGINT) AS views,
        |  CAST(clicks AS BIGINT) AS clicks,
        |  CAST(expected_e6 // 1000000 AS BIGINT) AS expected,
        |  CAST(CAST(clicks AS HUGEINT) * 1000000000000
        |    // nullif(expected_e6, 0) AS BIGINT) AS coec_e6
        |FROM a ORDER BY article""".stripMargin,

    // Feature-hashing replay: 1024-bucket portable hash, occupancy
    // histogram, collision rate and collided-mass share.
    "q_feature_hashing" ->
      s"""WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)),
         |    '\\s+')) AS token FROM documents),
         |ty AS (SELECT token, CAST(count(*) AS BIGINT) AS mass
         |  FROM t WHERE length(token) >= 2 GROUP BY 1),
         |b AS (SELECT ${hSql("token")} % 1024 AS bucket, mass FROM ty),
         |bk AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_types,
         |    sum(mass) AS mass FROM b GROUP BY 1),
         |tot AS (SELECT sum(n_types) AS tt, CAST(count(*) AS BIGINT) AS bu,
         |    sum(mass) AS tm,
         |    sum(CASE WHEN n_types > 1 THEN mass ELSE 0 END) AS cm
         |  FROM bk)
         |SELECT n_types AS occupancy, CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(sum(mass) AS BIGINT) AS mass, CAST(tt AS BIGINT)
         |    AS n_types_total,
         |  bu AS n_buckets_used,
         |  CAST((tt - bu) * 1000000 // tt AS BIGINT) AS collision_rate_e6,
         |  CAST(cm * 1000000 // tm AS BIGINT) AS collided_mass_e6
         |FROM bk CROSS JOIN tot
         |GROUP BY n_types, tt, bu, tm, cm ORDER BY occupancy""".stripMargin,

    // Negative-binomial diagnostics replay: nonzero cells only, grid
    // size from scalars, fraction-cleared variance, double e^-lambda.
    "q_negbin" ->
      """WITH cells AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu,
        |    CAST(count(DISTINCT d) AS BIGINT) AS nd,
        |    CAST(count(*) AS BIGINT) AS nz, sum(k) AS sk,
        |    sum(CAST(k AS HUGEINT) * k) AS skk
        |  FROM cells),
        |g2 AS (SELECT *, nu * nd AS n FROM g),
        |g3 AS (SELECT *,
        |    CAST(sk AS HUGEINT) * 1000000 // n AS mean_e6,
        |    (n * skk - CAST(sk AS HUGEINT) * sk) * 1000000
        |      // (CAST(n AS HUGEINT) * n) AS var_e6
        |  FROM g2)
        |SELECT n AS n_cells, n - nz AS n_zero,
        |  CAST(mean_e6 AS BIGINT) AS mean_e6, CAST(var_e6 AS BIGINT) AS var_e6,
        |  CAST(var_e6 * 1000000 // nullif(mean_e6, 0) AS BIGINT) AS vmr_e6,
        |  CAST(CASE WHEN var_e6 > mean_e6
        |    THEN mean_e6 * mean_e6 // (var_e6 - mean_e6) END
        |    AS BIGINT) AS nb_k_e6,
        |  CAST(floor(exp(-CAST(mean_e6 AS DOUBLE) / 1000000.0) * 1000000.0
        |    + 0.5) AS BIGINT) AS pois_zero_e6,
        |  (n - nz) * 1000000 // n AS obs_zero_e6
        |FROM g3""".stripMargin,

    // Bradley-Terry replay: within-user comparisons, two unrolled MM
    // sweeps with truncating e6 strengths.
    "q_bradley_terry" ->
      """WITH ua AS (SELECT user_id, event_id % 40 + 1 AS a,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |comp AS (SELECT x.a, y.a AS b,
        |    CAST(sum(CASE WHEN x.c > y.c THEN 1 ELSE 0 END) AS BIGINT) AS w_ab
        |  FROM ua x JOIN ua y ON x.user_id = y.user_id
        |  WHERE x.a <> y.a AND x.c <> y.c GROUP BY 1, 2),
        |n AS (SELECT c1.a, c1.b, c1.w_ab,
        |    c1.w_ab + coalesce(c2.w_ab, 0) AS n_ab
        |  FROM comp c1 LEFT JOIN comp c2 ON c1.a = c2.b AND c1.b = c2.a),
        |wins AS (SELECT a, sum(w_ab) AS w FROM n GROUP BY a),
        |p1 AS (SELECT n.a,
        |    CAST(CAST(w AS HUGEINT) * 1000000000000
        |      // sum(CAST(n_ab AS HUGEINT) * 1000000000000
        |      // (1000000 + 1000000)) AS BIGINT) AS p_e6
        |  FROM n JOIN wins ON n.a = wins.a GROUP BY n.a, w),
        |p2 AS (SELECT n.a,
        |    CAST(CAST(w AS HUGEINT) * 1000000000000
        |      // sum(CAST(n_ab AS HUGEINT) * 1000000000000
        |      // (pa.p_e6 + pb.p_e6)) AS BIGINT) AS p_e6
        |  FROM n JOIN wins ON n.a = wins.a
        |  JOIN p1 pa ON pa.a = n.a JOIN p1 pb ON pb.a = n.b
        |  GROUP BY n.a, w)
        |SELECT p2.a AS article, CAST(w AS BIGINT) AS wins, p2.p_e6
        |FROM p2 JOIN wins ON p2.a = wins.a
        |ORDER BY p2.p_e6 DESC, article""".stripMargin,

    // Greenwood replay: the KM recursion additionally carrying the
    // e12 variance sum, double sqrt per output row, clamped z bands.
    "q_greenwood" ->
      s"""WITH RECURSIVE $survivalTimesCtes,
        |r AS (
        |  SELECT rn, t, dd, cc, total AS n,
        |    1000000 * (total - dd) // total AS s,
        |    CASE WHEN dd = 0 THEN 0
        |      ELSE dd * 1000000000000 // (total * (total - dd)) END AS g
        |  FROM d2, tot WHERE rn = 1
        |  UNION ALL
        |  SELECT d2.rn, d2.t, d2.dd, d2.cc, r.n - r.dd - r.cc,
        |    r.s * (r.n - r.dd - r.cc - d2.dd) // (r.n - r.dd - r.cc),
        |    r.g + CASE WHEN d2.dd = 0 THEN 0
        |      ELSE d2.dd * 1000000000000
        |        // ((r.n - r.dd - r.cc) * (r.n - r.dd - r.cc - d2.dd)) END
        |  FROM r JOIN d2 ON d2.rn = r.rn + 1),
        |o AS (SELECT t, CAST(n AS BIGINT) AS n_risk, dd AS d_churn,
        |    CAST(s AS BIGINT) AS surv_e6, CAST(g AS BIGINT) AS g_e12,
        |    CAST(floor(s * sqrt(CAST(g AS DOUBLE) / 1.0e12) + 0.5) AS BIGINT)
        |      AS se_e6
        |  FROM r)
        |SELECT t, n_risk, d_churn, surv_e6, g_e12, se_e6,
        |  greatest(0, surv_e6 - 1959964 * se_e6 // 1000000) AS lo_e6,
        |  least(1000000, surv_e6 + 1959964 * se_e6 // 1000000) AS hi_e6
        |FROM o ORDER BY t""".stripMargin,

    // Quantile-normalization replay: cross-scaled integer CDF
    // positions, descending support-union merge walk.
    "q_quantile_norm" ->
      """WITH h AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events),
        |mid AS (SELECT (min(d) + max(d) + 1) // 2 AS mid FROM h),
        |sup AS (SELECT vc,
        |    CAST(sum(CASE WHEN d < mid THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN d >= mid THEN 1 ELSE 0 END) AS BIGINT) AS cs
        |  FROM h CROSS JOIN mid GROUP BY 1),
        |tot AS (SELECT sum(ct) AS n1, sum(cs) AS n2 FROM sup),
        |cum AS (SELECT vc, ct, cs, n1, n2,
        |    sum(ct) OVER (ORDER BY vc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumt,
        |    sum(cs) OVER (ORDER BY vc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cums
        |  FROM sup CROSS JOIN tot),
        |tt AS (SELECT vc AS v, 't' AS kind,
        |    CAST(cumt AS HUGEINT) * 2 * n2 AS pos
        |  FROM cum WHERE ct > 0),
        |ss AS (SELECT vc AS v, 's' AS kind,
        |    CAST(cums * 2 - cs AS HUGEINT) * n1 AS pos
        |  FROM cum WHERE cs > 0),
        |un AS (SELECT * FROM tt UNION ALL SELECT * FROM ss),
        |mw AS (SELECT *, min(CASE WHEN kind = 't' THEN v END)
        |    OVER (ORDER BY pos DESC, kind DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mapped
        |  FROM un)
        |SELECT v AS v_src, CAST(pos // 2 AS BIGINT) AS pos_x_n1n2,
        |  mapped AS v_mapped
        |FROM mw WHERE kind = 's' ORDER BY v_src""".stripMargin,

    // TURF replay: three unrolled greedy max-coverage steps with
    // (reach desc, article) tie order.
    "q_turf" ->
      """WITH ua AS (SELECT DISTINCT user_id AS u, event_id % 40 + 1 AS a
        |  FROM events WHERE event_type = 'view'),
        |t AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS total FROM ua),
        |s1 AS (SELECT a, CAST(count(*) AS BIGINT) AS reach FROM ua GROUP BY 1),
        |b1 AS (SELECT (min(struct_pack(nr := -reach, a := a))).a AS a1,
        |    -(min(struct_pack(nr := -reach, a := a))).nr AS r1 FROM s1),
        |cov1 AS (SELECT DISTINCT u FROM ua, b1 WHERE ua.a = b1.a1),
        |rem1 AS (SELECT * FROM ua WHERE u NOT IN (SELECT u FROM cov1)),
        |s2 AS (SELECT a, CAST(count(*) AS BIGINT) AS reach FROM rem1 GROUP BY 1),
        |b2 AS (SELECT (min(struct_pack(nr := -reach, a := a))).a AS a2,
        |    -(min(struct_pack(nr := -reach, a := a))).nr AS r2 FROM s2),
        |cov2 AS (SELECT DISTINCT u FROM rem1, b2 WHERE rem1.a = b2.a2),
        |rem2 AS (SELECT * FROM rem1 WHERE u NOT IN (SELECT u FROM cov2)),
        |s3 AS (SELECT a, CAST(count(*) AS BIGINT) AS reach FROM rem2 GROUP BY 1),
        |b3 AS (SELECT (min(struct_pack(nr := -reach, a := a))).a AS a3,
        |    -(min(struct_pack(nr := -reach, a := a))).nr AS r3 FROM s3),
        |rows_ AS (
        |  SELECT 1 AS step, a1 AS article, r1 AS marginal_reach,
        |    r1 AS cum_reach FROM b1
        |  UNION ALL
        |  SELECT 2, a2, r2, r1 + r2 FROM b1, b2
        |  UNION ALL
        |  SELECT 3, a3, r3, r1 + r2 + r3 FROM b1, b2, b3)
        |SELECT CAST(step AS BIGINT) AS step, CAST(article AS BIGINT) AS article,
        |  marginal_reach, cum_reach, total AS total_users,
        |  cum_reach * 1000000 // total AS cum_reach_e6
        |FROM rows_ CROSS JOIN t ORDER BY step""".stripMargin,

    // Mahalanobis replay: n-scaled deviations, HUGEINT covariance
    // sums, one double d2 expression, integer-ordered top-10.
    "q_mahalanobis" ->
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy FROM u),
        |c AS (SELECT n, sx, sy,
        |    n * (n * sxx - CAST(sx AS HUGEINT) * sx) AS cxx,
        |    n * (n * syy - CAST(sy AS HUGEINT) * sy) AS cyy,
        |    n * (n * sxy - CAST(sx AS HUGEINT) * sy) AS cxy
        |  FROM m),
        |d2 AS (SELECT user_id, x, y,
        |    CAST(floor((CAST(n * x - sx AS DOUBLE) * (n * x - sx)
        |        * CAST(cyy AS DOUBLE)
        |      + CAST(n * CAST(y AS HUGEINT) - sy AS DOUBLE)
        |        * (n * CAST(y AS HUGEINT) - sy) * CAST(cxx AS DOUBLE)
        |      - 2.0 * CAST(n * x - sx AS DOUBLE)
        |        * (n * CAST(y AS HUGEINT) - sy) * CAST(cxy AS DOUBLE))
        |      * CAST(n - 1 AS DOUBLE)
        |      / (CAST(cxx AS DOUBLE) * cyy - CAST(cxy AS DOUBLE) * cxy)
        |      * 1000000.0 + 0.5) AS BIGINT) AS d2_e6
        |  FROM u CROSS JOIN c),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(CASE WHEN d2_e6 > 9210340 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_outliers FROM d2),
        |top AS (SELECT * FROM d2 ORDER BY d2_e6 DESC, user_id LIMIT 10)
        |SELECT user_id, x, y, d2_e6, d2_e6 > 9210340 AS is_outlier,
        |  n_users, n_outliers
        |FROM top CROSS JOIN s ORDER BY d2_e6 DESC, user_id""".stripMargin,

    // Luby MIS replay: 3 generated rounds (active-active edge
    // restriction, per-node struct-min neighbor priority, hash-priority
    // join rule, MIS ∪ N(MIS) removal), then the independence
    // certificate re-derived from the final MIS union. MATERIALIZED on
    // every multiply-referenced CTE (the iterated-algorithm house rule).
    "q_mis" -> {
      def round(r: Int): String = {
        val a = s"a${r - 1}"
        s"""e$r AS MATERIALIZED (SELECT u.src, u.dst, a2.prio AS pd
           |  FROM und u JOIN $a a1 ON u.src = a1.node
           |  JOIN $a a2 ON u.dst = a2.node),
           |mn$r AS MATERIALIZED (SELECT src,
           |    min(struct_pack(p := pd, n := dst)) AS m
           |  FROM e$r GROUP BY src),
           |mis$r AS MATERIALIZED (SELECT a.node
           |  FROM $a a LEFT JOIN mn$r ON a.node = mn$r.src
           |  WHERE mn$r.m IS NULL
           |    OR struct_pack(p := a.prio, n := a.node) < mn$r.m),
           |rm$r AS MATERIALIZED (SELECT DISTINCT u.dst AS node
           |  FROM und u JOIN mis$r m ON u.src = m.node),
           |a$r AS MATERIALIZED (SELECT a.node, a.prio FROM $a a
           |  WHERE a.node NOT IN (SELECT node FROM mis$r)
           |    AND a.node NOT IN (SELECT node FROM rm$r))""".stripMargin
      }
      s"""WITH p AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |ed AS (SELECT src, dst FROM p
         |  WHERE dst IS NOT NULL AND src <> dst GROUP BY src, dst),
         |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed) u),
         |a0 AS MATERIALIZED (SELECT node,
         |    (node * 2654435761) % 2305843009213693951 AS prio
         |  FROM (SELECT DISTINCT src AS node FROM und)),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |misall AS MATERIALIZED (SELECT node FROM mis1
         |  UNION SELECT node FROM mis2 UNION SELECT node FROM mis3),
         |viol AS (SELECT CAST(count(*) AS BIGINT) AS v FROM und u
         |  JOIN misall x ON u.src = x.node JOIN misall y ON u.dst = y.node),
         |st AS (
         |  SELECT 1 AS round, (SELECT count(*) FROM a0) AS active_before,
         |    (SELECT count(*) FROM mis1) AS mis_added,
         |    (SELECT count(*) FROM a1) AS active_after
         |  UNION ALL SELECT 2, (SELECT count(*) FROM a1),
         |    (SELECT count(*) FROM mis2), (SELECT count(*) FROM a2)
         |  UNION ALL SELECT 3, (SELECT count(*) FROM a2),
         |    (SELECT count(*) FROM mis3), (SELECT count(*) FROM a3))
         |SELECT CAST(round AS BIGINT) AS round,
         |  CAST(active_before AS BIGINT) AS active_before,
         |  CAST(mis_added AS BIGINT) AS mis_added,
         |  CAST(active_after AS BIGINT) AS active_after,
         |  CAST(sum(mis_added) OVER (ORDER BY round) AS BIGINT) AS cum_mis,
         |  (SELECT v FROM viol) AS mis_edge_violations
         |FROM st ORDER BY round""".stripMargin
    },

    // Maximal-matching replay: 3 generated rounds, each = both-endpoint
    // struct-min, local-minimality equi joins, matched-vertex removal.
    "q_matching" -> {
      def round(r: Int): String = {
        val e = s"e${r - 1}"
        s"""mn$r AS MATERIALIZED (SELECT v,
           |    min(struct_pack(p := p, a := a, b := b)) AS m
           |  FROM (SELECT a AS v, p, a, b FROM $e
           |    UNION ALL SELECT b AS v, p, a, b FROM $e) i GROUP BY v),
           |m$r AS MATERIALIZED (SELECT e.a, e.b, e.p FROM $e e
           |  JOIN mn$r x ON e.a = x.v JOIN mn$r y ON e.b = y.v
           |  WHERE struct_pack(p := e.p, a := e.a, b := e.b) = x.m
           |    AND struct_pack(p := e.p, a := e.a, b := e.b) = y.m),
           |e$r AS MATERIALIZED (SELECT e.* FROM $e e
           |  WHERE e.a NOT IN (SELECT a FROM m$r UNION ALL SELECT b FROM m$r)
           |    AND e.b NOT IN (SELECT a FROM m$r UNION ALL SELECT b FROM m$r))""".stripMargin
      }
      s"""WITH p AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |ed AS (SELECT src, dst FROM p
         |  WHERE dst IS NOT NULL AND src <> dst GROUP BY src, dst),
         |e0 AS MATERIALIZED (SELECT a, b,
         |    (a * 2654435761) % 2305843009213693951
         |      + (b * 2654435761) % 2305843009213693951 AS p
         |  FROM (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |    FROM ed)),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |mall AS MATERIALIZED (SELECT a, b FROM m1
         |  UNION ALL SELECT a, b FROM m2 UNION ALL SELECT a, b FROM m3),
         |viol AS (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS v FROM (
         |  SELECT count(*) AS c FROM (SELECT a AS x FROM mall
         |    UNION ALL SELECT b FROM mall) GROUP BY x) WHERE c > 1),
         |st AS (
         |  SELECT 1 AS round, (SELECT count(*) FROM e0) AS edges_before,
         |    (SELECT count(*) FROM m1) AS matched_added,
         |    (SELECT count(*) FROM e1) AS edges_after
         |  UNION ALL SELECT 2, (SELECT count(*) FROM e1),
         |    (SELECT count(*) FROM m2), (SELECT count(*) FROM e2)
         |  UNION ALL SELECT 3, (SELECT count(*) FROM e2),
         |    (SELECT count(*) FROM m3), (SELECT count(*) FROM e3))
         |SELECT CAST(round AS BIGINT) AS round,
         |  CAST(edges_before AS BIGINT) AS edges_before,
         |  CAST(matched_added AS BIGINT) AS matched_added,
         |  CAST(edges_after AS BIGINT) AS edges_after,
         |  CAST(sum(matched_added) OVER (ORDER BY round) AS BIGINT)
         |    AS cum_matched,
         |  CAST(2 * sum(matched_added) OVER (ORDER BY round) AS BIGINT)
         |    AS cover_size,
         |  (SELECT v FROM viol) AS match_violations,
         |  (SELECT CAST(count(*) AS BIGINT) FROM e3) AS remaining_edges
         |FROM st ORDER BY round""".stripMargin
    },

    // Borůvka replay: 4 generated rounds, each = label joins, per-comp
    // struct-min edge, hook, 2-cycle break, 6 doubling pointer jumps.
    "q_boruvka" -> {
      def round(r: Int): String = {
        val lp = s"l${r - 1}"
        val jumps = (1 to 6).map(j =>
          s"p${r}_$j AS MATERIALIZED (SELECT x.c, y.p FROM p${r}_${j - 1} x " +
            s"JOIN p${r}_${j - 1} y ON x.p = y.c)").mkString(",\n")
        s"""e$r AS MATERIALIZED (SELECT und.w, least(cu.lbl, cv.lbl) AS a,
           |    greatest(cu.lbl, cv.lbl) AS b
           |  FROM und JOIN $lp cu ON und.u = cu.node
           |  JOIN $lp cv ON und.v = cv.node
           |  WHERE cu.lbl <> cv.lbl),
           |me$r AS MATERIALIZED (SELECT c,
           |    min(struct_pack(w := w, a := a, b := b)) AS m
           |  FROM (SELECT a AS c, w, a, b FROM e$r
           |    UNION ALL SELECT b AS c, w, a, b FROM e$r) x
           |  GROUP BY c),
           |sel$r AS (SELECT DISTINCT (m).w AS w, (m).a AS a, (m).b AS b
           |  FROM me$r),
           |st$r AS (SELECT
           |    (SELECT CAST(count(DISTINCT lbl) AS BIGINT) FROM $lp)
           |      AS n_comps,
           |    CAST(count(*) AS BIGINT) AS edges_added,
           |    CAST(coalesce(sum(w), 0) AS BIGINT) AS weight_added
           |  FROM sel$r),
           |cp$r AS (SELECT DISTINCT lbl AS c FROM $lp),
           |hk$r AS MATERIALIZED (SELECT cp$r.c,
           |    coalesce(CASE WHEN (m).a = cp$r.c THEN (m).b ELSE (m).a END,
           |      cp$r.c) AS p
           |  FROM cp$r LEFT JOIN me$r ON cp$r.c = me$r.c),
           |p${r}_0 AS MATERIALIZED (SELECT h1.c,
           |    CASE WHEN h2.p = h1.c THEN least(h1.c, h1.p) ELSE h1.p END AS p
           |  FROM hk$r h1 JOIN hk$r h2 ON h1.p = h2.c),
           |$jumps,
           |l$r AS MATERIALIZED (SELECT l.node, pt.p AS lbl
           |  FROM $lp l JOIN p${r}_6 pt ON l.lbl = pt.c)""".stripMargin
      }
      s"""WITH dir AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |und AS MATERIALIZED (SELECT least(src, dst) AS u,
         |    greatest(src, dst) AS v,
         |    1000000000 // CAST(count(*) AS BIGINT) AS w
         |  FROM dir WHERE dst IS NOT NULL AND src <> dst
         |  GROUP BY least(src, dst), greatest(src, dst)),
         |l0 AS MATERIALIZED (SELECT DISTINCT node, node AS lbl FROM (
         |    SELECT u AS node FROM und UNION ALL SELECT v FROM und) x),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |${round(4)},
         |res AS (
         |  SELECT 1 AS round, n_comps, edges_added, weight_added FROM st1
         |  UNION ALL SELECT 2, n_comps, edges_added, weight_added FROM st2
         |  UNION ALL SELECT 3, n_comps, edges_added, weight_added FROM st3
         |  UNION ALL SELECT 4, n_comps, edges_added, weight_added FROM st4)
         |SELECT CAST(round AS BIGINT) AS round, n_comps AS n_comps_before,
         |  edges_added, weight_added,
         |  CAST(sum(weight_added) OVER (ORDER BY round
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_weight
         |FROM res ORDER BY round""".stripMargin
    },

    // LCS replay: the needleman pair base with the gap-free DP cells,
    // re-rowed into MATERIALIZED per-row CTEs (the rouge_l device).
    "q_lcs_sim" ->
      s"""WITH ${userPairDpCtes(Queries.lcsCells(i => s"a[$i]", j => s"b[$j]", 7))}
         |SELECT user_a, user_b, CAST(ca7 AS BIGINT) AS lcs,
         |  CAST(CAST(ca7 AS BIGINT) * 1000000 // 7 AS BIGINT) AS lcs_sim_e6
         |FROM dp7 ORDER BY user_a, user_b""".stripMargin,

    // ROUGE-L replay: the 8x10 LCS lattice as MATERIALIZED per-row
    // CTEs — a single-select lateral-alias form inlines each cell's 3
    // predecessors recursively (3^18 expansion; measured ~9 min), the
    // row chain keeps up/diag as table columns and only the linear
    // in-row left chain inlines. Alternating a/b column prefixes dodge
    // DuckDB's table-column-over-lateral-alias shadowing.
    "q_rouge_l" -> {
      def rowCte(i: Int): String = {
        val cur = if (i % 2 == 1) "a" else "b"
        val prev = if (i % 2 == 1) "b" else "a"
        val cells = (1 to 10).map { j =>
          val eq = s"(CASE WHEN cand[$i] = ref[$j] THEN 1 ELSE 0 END)"
          val diag = if (i == 1 || j == 1) "0" else s"$prev${j - 1}"
          val up = if (i == 1) "0" else s"$prev$j"
          val left = if (j == 1) "0" else s"$cur${j - 1}"
          s"greatest($diag + $eq, $up, $left) AS $cur$j"
        }.mkString(", ")
        s"r$i AS MATERIALIZED (SELECT doc_id, ref, cand, $cells FROM ${if (i == 1) "b2" else s"r${i - 1}"})"
      }
      s"""WITH base AS (SELECT doc_id, ${wordsSql("lower(text)")} AS ws
         |  FROM documents WHERE doc_id < 300 AND doc_id % 5 = 0),
         |b2 AS (SELECT doc_id, list_slice(ws, 1, 10) AS ref,
         |    list_transform(range(1, 9), i -> ws[CAST(2 * i AS INT)]) AS cand
         |  FROM base WHERE len(ws) >= 20),
         |${(1 to 8).map(rowCte).mkString(",\n")}
         |SELECT doc_id, CAST(b10 AS BIGINT) AS lcs,
         |  CAST(b10 AS BIGINT) * 1000000 // 8 AS prec_e6,
         |  CAST(b10 AS BIGINT) * 1000000 // 10 AS rec_e6,
         |  CAST(2 * b10 AS BIGINT) * 1000000 // 18 AS f_e6
         |FROM r8 ORDER BY doc_id""".stripMargin
    },

    // Chebyshev-certificate replay: exact integer per-row tail test,
    // 4-row k grid, distribution-free bound comparison.
    "q_cheb_bound" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x
        |  FROM orders),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS s,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx FROM o),
        |m2 AS (SELECT *, n * sxx - CAST(s AS HUGEINT) * s AS ss FROM m),
        |ks AS (SELECT CAST(unnest([10, 15, 20, 30]) AS BIGINT) AS k_e1),
        |t AS (SELECT k_e1, n,
        |    CAST(sum(CASE WHEN CAST(n * x - s AS HUGEINT) * (n * x - s) * 100
        |      >= k_e1 * k_e1 * ss THEN 1 ELSE 0 END) AS BIGINT) AS n_tail
        |  FROM o CROSS JOIN m2 CROSS JOIN ks GROUP BY k_e1, n)
        |SELECT k_e1, n AS n_orders, n_tail,
        |  n_tail * 1000000 // n AS observed_e6,
        |  100000000 // (k_e1 * k_e1) AS bound_e6,
        |  n_tail * 1000000 // n <= 100000000 // (k_e1 * k_e1) AS bound_holds
        |FROM t ORDER BY k_e1""".stripMargin,

    // Birthday-bound replay: distinct-type bucket table, exact
    // pairwise collision counts, analytic expectation, e6 ratio.
    "q_birthday_collision" ->
      s"""WITH ty AS (SELECT DISTINCT token FROM (
         |    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
         |      AS token FROM documents) WHERE length(token) >= 2),
         |b AS (SELECT ${hSql("token")} % 1024 AS bucket FROM ty),
         |bk AS (SELECT bucket, CAST(count(*) AS BIGINT) AS nb
         |  FROM b GROUP BY 1)
         |SELECT CAST(sum(nb) AS BIGINT) AS n_types,
         |  CAST(count(*) AS BIGINT) AS n_buckets_used,
         |  CAST(sum(CAST(nb AS HUGEINT) * (nb - 1) // 2) AS BIGINT)
         |    AS observed_collisions,
         |  CAST(CAST(sum(nb) AS HUGEINT) * (sum(nb) - 1) // 2 // 1024
         |    AS BIGINT) AS expected_collisions,
         |  CAST(sum(CAST(nb AS HUGEINT) * (nb - 1) // 2) * 1000000
         |    // (CAST(sum(nb) AS HUGEINT) * (sum(nb) - 1) // 2 // 1024)
         |    AS BIGINT) AS ratio_e6
         |FROM bk""".stripMargin,

    // ICC replay: unbalanced one-way ANOVA moments in HUGEINT, k0
    // correction, one integral-ratio ICC.
    "q_icc" ->
      """WITH cells AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM events GROUP BY 1, 2),
        |byu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS ng,
        |    sum(k) AS sg, sum(CAST(k AS HUGEINT) * k) AS sgg
        |  FROM cells GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS g, sum(ng) AS nn,
        |    sum(sg) AS st, sum(sgg) AS stt,
        |    sum(CAST(sg AS HUGEINT) * sg * 1000000 // ng) AS ssb_n,
        |    sum(CAST(ng AS HUGEINT) * ng) AS sn2
        |  FROM byu),
        |m2 AS (SELECT *,
        |    ssb_n - CAST(st AS HUGEINT) * st * 1000000 // nn AS ssb_e6,
        |    CAST(stt AS HUGEINT) * 1000000 - ssb_n AS ssw_e6
        |  FROM m),
        |m3 AS (SELECT *, ssb_e6 // (g - 1) AS msb_e6,
        |    ssw_e6 // (nn - g) AS msw_e6,
        |    (nn * 1000000 - sn2 * 1000000 // nn) // (g - 1) AS k0_e6
        |  FROM m2)
        |SELECT g AS n_users, CAST(nn AS BIGINT) AS n_cells,
        |  CAST(msb_e6 AS BIGINT) AS msb_e6, CAST(msw_e6 AS BIGINT) AS msw_e6,
        |  CAST(k0_e6 AS BIGINT) AS k0_e6,
        |  CAST((msb_e6 - msw_e6) * 1000000
        |    // (msb_e6 + (k0_e6 - 1000000) * msw_e6 // 1000000) AS BIGINT)
        |    AS icc_e6
        |FROM m3""".stripMargin,

    // Gumbel replay: monthly block maxima, shared gamma and sqrt(6)/pi
    // literals, three return levels.
    "q_gumbel" ->
      """WITH b AS (SELECT CAST(year(o_orderdate) * 12
        |      + month(o_orderdate) - 1 AS BIGINT) AS m,
        |    max(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS mx
        |  FROM orders GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS nb, sum(mx) AS s,
        |    sum(CAST(mx AS HUGEINT) * mx) AS ss FROM b),
        |m2 AS (SELECT nb, CAST(s AS DOUBLE) / nb AS mean,
        |    sqrt(CAST((nb * ss - CAST(s AS HUGEINT) * s)
        |      // (CAST(nb AS HUGEINT) * (nb - 1)) AS DOUBLE)) AS sd
        |  FROM m),
        |m3 AS (SELECT *, sd * 0.7796968012336609 AS beta FROM m2),
        |m4 AS (SELECT *, mean - 0.5772156649015329 * beta AS mu FROM m3),
        |grid AS (SELECT CAST(unnest([10, 50, 100]) AS BIGINT) AS t)
        |SELECT t, nb AS n_blocks,
        |  CAST(floor(mean + 0.5) AS BIGINT) AS mean_c,
        |  CAST(floor(sd + 0.5) AS BIGINT) AS sd_c,
        |  CAST(floor(mu + 0.5) AS BIGINT) AS mu_c,
        |  CAST(floor(beta + 0.5) AS BIGINT) AS beta_c,
        |  CAST(floor(mu - beta * ln(-ln(1.0 - 1.0 / t)) + 0.5) AS BIGINT)
        |    AS ret_c
        |FROM m4 CROSS JOIN grid ORDER BY t""".stripMargin,

    // Adstock replay: one recursive chain carrying (lam, a) over the
    // day spine for all three lambdas, then the OLS/R2 closed forms.
    "q_adstock" ->
      """WITH RECURSIVE daily AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |o AS (SELECT d, c, y, row_number() OVER (ORDER BY d) AS rn
        |  FROM daily),
        |lam AS (SELECT CAST(unnest([3, 5, 7]) AS BIGINT) AS lam),
        |r AS (
        |  SELECT lam, rn, c * 1000000 AS a, y FROM o, lam WHERE rn = 1
        |  UNION ALL
        |  SELECT r.lam, o.rn, o.c * 1000000 + r.lam * r.a // 10, o.y
        |  FROM r JOIN o ON o.rn = r.rn + 1),
        |m AS (SELECT lam, CAST(count(*) AS BIGINT) AS n, sum(a) AS sx,
        |    sum(y) AS sy, sum(CAST(a AS HUGEINT) * a) AS sxx,
        |    sum(CAST(a AS HUGEINT) * y) AS sxy,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM r GROUP BY lam),
        |f AS (SELECT lam,
        |    CAST((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
        |      // (n * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS b_e6,
        |    CAST(((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
        |      // (n * sxx - CAST(sx AS HUGEINT) * sx))
        |      * ((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
        |      // (n * syy - CAST(sy AS HUGEINT) * sy))
        |      // 1000000 AS BIGINT) AS r2_e6
        |  FROM m),
        |b AS (SELECT (min(struct_pack(nr := -r2_e6, lam := lam))).lam
        |    AS best_lam FROM f)
        |SELECT lam * 100000 AS lam_e6, b_e6, r2_e6,
        |  lam = best_lam AS is_best
        |FROM f CROSS JOIN b ORDER BY lam_e6""".stripMargin,

    // Kendall-W replay: margin-cross rank scaffold, deterministic
    // (count desc, article) ranks, exact integral W.
    "q_kendall_w" ->
      s"""WITH $raterRankCtes,
        |sums AS (SELECT article, CAST(sum(rnk) AS BIGINT) AS r_sum,
        |    CAST(count(*) AS BIGINT) AS m FROM rk GROUP BY 1),
        |nr AS (SELECT CAST(count(*) AS BIGINT) AS n, max(m) AS mm FROM sums),
        |s2 AS (SELECT article, r_sum, n, mm,
        |    CAST(2 * r_sum - mm * (n + 1) AS HUGEINT)
        |      * (2 * r_sum - mm * (n + 1)) AS dev2
        |  FROM sums CROSS JOIN nr),
        |w AS (SELECT n, mm, CAST(sum(dev2) * 3 * 1000000
        |      // (CAST(mm AS HUGEINT) * mm * (CAST(n AS HUGEINT) * n * n - n))
        |      AS BIGINT) AS w_e6
        |  FROM s2 GROUP BY n, mm)
        |SELECT s2.article, s2.r_sum, CAST(s2.dev2 AS BIGINT) AS dev2,
        |  s2.mm AS m_raters, s2.n AS n_items, w.w_e6
        |FROM s2 JOIN w ON s2.n = w.n AND s2.mm = w.mm
        |ORDER BY s2.article""".stripMargin,

    // Krippendorff interval-alpha replay: same rater grid, closed-form
    // pair sums from moments (k*Sxx - Sx^2), one truncating division.
    "q_krippendorff" ->
      """WITH cnt AS (SELECT event_type AS rater, event_id % 40 + 1 AS article,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |raters AS (SELECT DISTINCT rater FROM cnt),
        |grid AS (SELECT r.rater, g.article, coalesce(cnt.cnt, 0) AS x
        |  FROM raters r
        |  CROSS JOIN (SELECT CAST(unnest(range(1, 41)) AS BIGINT) AS article) g
        |  LEFT JOIN cnt ON cnt.rater = r.rater AND cnt.article = g.article),
        |item AS (SELECT article, CAST(count(*) AS BIGINT) AS m,
        |    sum(x) AS sx, sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM grid GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS u, max(m) AS m,
        |    sum(m * sxx - CAST(sx AS HUGEINT) * sx) AS ssw,
        |    sum(sx) AS tx, sum(sxx) AS txx
        |  FROM item)
        |SELECT u AS n_items, m AS n_raters, CAST(ssw AS BIGINT) AS ssw,
        |  CAST(u * m * txx - CAST(tx AS HUGEINT) * tx AS BIGINT) AS ssd,
        |  CAST(((u * m * txx - CAST(tx AS HUGEINT) * tx) * u * m * (m - 1)
        |      - CAST(ssw AS HUGEINT) * (u * m) * (u * m - 1)) * 1000000
        |    // ((u * m * txx - CAST(tx AS HUGEINT) * tx) * u * m * (m - 1))
        |    AS BIGINT) AS alpha_e6
        |FROM g""".stripMargin,

    // Exact binomial sign-test replay: multiplicative C(n,j) recurrence
    // with interleaved exact division (BIGINT-safe), exact 2^n tails.
    "q_binomial_test" -> {
      s"""WITH daily AS (SELECT
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
         |    CAST(count(*) AS BIGINT) AS v FROM events GROUP BY 1),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS tot FROM daily),
         |k AS (SELECT n, tot,
         |    CAST(sum(CASE WHEN v * n > tot THEN 1 ELSE 0 END) AS BIGINT) AS k
         |  FROM daily CROSS JOIN g GROUP BY n, tot),
         |sup AS (SELECT n, k, CAST(unnest(range(0, n + 1)) AS BIGINT) AS j
         |  FROM k),
         |c AS (SELECT n, k, j,
         |    CASE WHEN j = 0 THEN CAST(1 AS BIGINT)
         |      ELSE list_reduce(
         |        list_prepend(CAST(1 AS BIGINT),
         |          list_transform(range(1, j + 1), y -> CAST(y AS BIGINT))),
         |        (a, i) -> a * (n - j + i) // i) END AS cnj FROM sup),
         |s AS (SELECT n, k,
         |    sum(CASE WHEN j <= k THEN cnj ELSE 0 END) AS s_le,
         |    sum(CASE WHEN j >= k THEN cnj ELSE 0 END) AS s_ge,
         |    sum(cnj) AS s_tot
         |  FROM c GROUP BY n, k)
         |SELECT n AS n_days, k AS k_above, CAST(s_le AS BIGINT) AS tail_le,
         |  CAST(s_ge AS BIGINT) AS tail_ge,
         |  CAST(least(CAST(1000000 AS HUGEINT),
         |    2 * least(s_le, s_ge) * 1000000 // s_tot) AS BIGINT) AS p_two_e6
         |FROM s""".stripMargin
    },

    // Spectral-entropy replay: periodogram power grid, e9-floored
    // p*ln(1/p) terms, flatness over ln(K), dominant share.
    "q_spectral_entropy" ->
      """WITH daily AS (SELECT
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS s,
        |    min(d) AS d0 FROM daily),
        |cells AS (SELECT p, n, n * x - s AS y,
        |    CAST(floor(cos(2.0 * pi() * (d - d0) / p) * 1000000000.0 + 0.5)
        |      AS BIGINT) AS c,
        |    CAST(floor(sin(2.0 * pi() * (d - d0) / p) * 1000000000.0 + 0.5)
        |      AS BIGINT) AS sn
        |  FROM daily CROSS JOIN g
        |  CROSS JOIN (SELECT CAST(unnest(range(2, 11)) AS BIGINT) AS p)),
        |pw AS (SELECT p,
        |    CAST((sum(CAST(y AS HUGEINT) * c) // 1000000000)
        |        * (sum(CAST(y AS HUGEINT) * c) // 1000000000)
        |      + (sum(CAST(y AS HUGEINT) * sn) // 1000000000)
        |        * (sum(CAST(y AS HUGEINT) * sn) // 1000000000) AS BIGINT)
        |      AS power
        |  FROM cells GROUP BY p, n),
        |tot AS (SELECT sum(power) AS tp, max(power) AS mp,
        |    CAST(count(*) AS BIGINT) AS kk FROM pw),
        |terms AS (SELECT kk, mp, tp,
        |    CASE WHEN power = 0 THEN 0
        |      ELSE CAST(floor((power / tp)
        |        * ln(CAST(tp AS DOUBLE) / power) * 1000000000.0 + 0.5)
        |        AS BIGINT) END AS term_e9
        |  FROM pw CROSS JOIN tot)
        |SELECT kk AS n_periods, CAST(sum(term_e9) AS BIGINT) AS h_e9,
        |  CAST(floor(CAST(sum(term_e9) AS DOUBLE)
        |    / ln(CAST(kk AS DOUBLE)) / 1000.0 + 0.5) AS BIGINT)
        |    AS flatness_e6,
        |  CAST(max(mp * 1000000 // tp) AS BIGINT) AS dominant_share_e6
        |FROM terms GROUP BY kk""".stripMargin,

    // Survivorship replay: the full LSH pair pipeline, 0.8 gate,
    // min-id keeper, source map via id % 10000.
    "q_dedup_survivorship" ->
      s"""WITH $lshPairsCtes,
         |srcm AS (SELECT doc_id, source FROM documents)
         |SELECT ka.source AS keep_source, kb.source AS lose_source,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM scored JOIN srcm ka ON doc_a % 10000 = ka.doc_id
         |JOIN srcm kb ON doc_b % 10000 = kb.doc_id
         |WHERE jaccard >= 0.8
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Switchback replay: 3-day alternating blocks, per-arm means cast
    // separately (matching the Spark truncation points), interior
    // excludes each block's first day.
    "q_switchback" ->
      """WITH daily AS (SELECT
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |d0 AS (SELECT min(d) AS dmin FROM daily),
        |m AS (SELECT y, ((d - dmin) // 3) % 2 = 1 AS treat,
        |    (d - dmin) % 3 != 0 AS interior
        |  FROM daily CROSS JOIN d0),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(CASE WHEN interior THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_interior,
        |    CAST(sum(CASE WHEN treat THEN y END) * CAST(1000000 AS HUGEINT)
        |      // sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS t_all,
        |    CAST(sum(CASE WHEN NOT treat THEN y END) * CAST(1000000 AS HUGEINT)
        |      // sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS c_all,
        |    CAST(sum(CASE WHEN treat AND interior THEN y END)
        |      * CAST(1000000 AS HUGEINT)
        |      // sum(CASE WHEN treat AND interior THEN 1 ELSE 0 END)
        |      AS BIGINT) AS t_int,
        |    CAST(sum(CASE WHEN NOT treat AND interior THEN y END)
        |      * CAST(1000000 AS HUGEINT)
        |      // sum(CASE WHEN NOT treat AND interior THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_int
        |  FROM m)
        |SELECT n_days, n_interior, t_all - c_all AS naive_diff_e6,
        |  t_int - c_int AS interior_diff_e6,
        |  (t_all - c_all) - (t_int - c_int) AS carryover_bias_e6
        |FROM g""".stripMargin,

    // Context-fit replay: BPE-ish token counts, 3-window grid, exact
    // ppm fit and truncation-waste shares.
    "q_context_fit" ->
      """WITH d AS (SELECT CAST(len(regexp_extract_all(text,
        |    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n
        |  FROM documents),
        |g AS (SELECT CAST(unnest([512, 2048, 8192]) AS BIGINT) AS w)
        |SELECT w AS ctx_window, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n <= w THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
        |  CAST(sum(CASE WHEN n <= w THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS fit_docs_e6,
        |  CAST(sum(n) AS BIGINT) AS total_tokens,
        |  CAST(sum(greatest(n - w, 0)) * 1000000 // sum(n) AS BIGINT)
        |    AS trunc_waste_e6
        |FROM d CROSS JOIN g GROUP BY w ORDER BY w""".stripMargin,

    // FFD packing replay: same salted buckets, same (n desc, id asc)
    // order, the sequential first-fit fold as a recursive CTE that
    // consumes one doc per bucket per step (bins as a LIST column).
    "q_pack_ffd" -> packSql(
      """list_filter(range(1, 1 + len(p.bins)),
        |        i -> p.bins[i] + o.n <= 2048)[1] AS idx""".stripMargin),

    // BFD packing replay: the q_pack_ffd recursive fold with the
    // best-fit choice rule (fullest fitting bin; first index on ties).
    "q_pack_bestfit" -> packSql(
      """list_filter(range(1, 1 + len(p.bins)),
        |        i -> p.bins[i] + o.n <= 2048 AND p.bins[i] =
        |          list_max(list_filter(p.bins, bb -> bb + o.n <= 2048)))[1]
        |        AS idx""".stripMargin),

    // Training-order replay: same salted mix/order hashes, same CASE
    // weight chain, same (epoch, shard) row_number — bit-identical
    // permutation, shards, and positions.
    "q_train_order" ->
      s"""$trainOrderCtes
        |SELECT epoch, shard, pos, doc_id, rep, source, n_tokens, okey
        |FROM p ORDER BY epoch, shard, pos""".stripMargin,

    // Shard-manifest replay: the same aggregates over the replayed
    // order table (counts, tokens, realized mixture, okey witnesses).
    "q_train_manifest" ->
      s"""$trainOrderCtes
        |SELECT epoch, shard, CAST(count(*) AS BIGINT) AS n_seqs,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_src0,
        |  CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_src1,
        |  CAST(sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_src2,
        |  CAST(sum(CASE WHEN source IN ('src0', 'src1', 'src2') THEN 1
        |      ELSE 0 END) * 1000000 // count(*) AS BIGINT)
        |    AS reweighted_share_e6,
        |  min(okey) AS min_okey, max(okey) AS max_okey
        |FROM p GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin,

    // Surprisal-curve replay: the lmCtes chain (sc now carries pos),
    // per-doc position counts, relative-decile buckets.
    "q_surprisal_curve" ->
      s"""WITH entr AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
        |${lmCtes("su", "entr", "documents", graft.ops.LanguageModel.KeepPerBigramMicro)},
        |np AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos
        |  FROM susc GROUP BY doc_id),
        |b AS (SELECT least(s.pos * 10 // np.n_pos, 9) AS bucket, s.s
        |  FROM susc s JOIN np USING (doc_id))
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_positions,
        |  CAST(sum(s) // count(*) AS BIGINT) AS mean_score_micro
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // Nucleus-vocab replay: per-source desc rank + running mass, the
    // exact 9/10 cross-multiplied head count.
    "q_nucleus_vocab" ->
      s"""WITH tok AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT source, unnest(${wordsSql("lower(text)")}) AS tok
        |    FROM documents) u
        |  WHERE length(tok) >= 1 GROUP BY source, tok),
        |cum AS (SELECT source, c, sum(c) OVER (PARTITION BY source
        |    ORDER BY c DESC, tok ROWS UNBOUNDED PRECEDING) AS cum FROM tok),
        |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS n_types FROM tok GROUP BY source)
        |SELECT cum.source, max(t.tot) AS n_tokens, max(t.n_types) AS n_types,
        |  CAST(sum(CASE WHEN (cum - c) * 10 < 9 * tot THEN 1 ELSE 0 END)
        |    AS BIGINT) AS p90_types,
        |  CAST(sum(CASE WHEN (cum - c) * 10 < 9 * tot THEN 1 ELSE 0 END)
        |    * 1000000 // max(t.n_types) AS BIGINT) AS p90_share_e6
        |FROM cum JOIN t USING (source)
        |GROUP BY cum.source ORDER BY cum.source""".stripMargin,

    // Token-Gini replay: ascending rank window, HUGEINT rank-weighted
    // sum, one e6 floor.
    "q_token_gini" ->
      s"""WITH tok AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT source, unnest(${wordsSql("lower(text)")}) AS tok
        |    FROM documents) u
        |  WHERE length(tok) >= 1 GROUP BY source, tok),
        |r AS (SELECT source, c, CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY c ASC, tok) AS BIGINT) AS i FROM tok)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST((2 * sum(CAST(i AS HUGEINT) * c)
        |      - CAST(count(*) + 1 AS HUGEINT) * sum(c)) * 1000000
        |    // (CAST(count(*) AS HUGEINT) * sum(c)) AS BIGINT) AS gini_e6
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // Gradient-noise replay: the hashed-count table (povrCtes contract,
    // 'gn:' salt), per-(source, bucket) signed sums, three exact
    // integer moments.
    "q_grad_noise" ->
      s"""WITH cnt AS (SELECT doc_id, source, y, bucket, count(*) AS n FROM (
        |    SELECT doc_id, source, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
        |      ${hSql("'gn:' || tok")} % 64 AS bucket FROM (
        |      SELECT doc_id, source, lang, unnest(${wordsSql("lower(text)")}) AS tok
        |      FROM documents) u
        |    WHERE length(tok) >= 2) b
        |  GROUP BY doc_id, source, y, bucket),
        |pb AS (SELECT source, bucket, CAST(sum(y * n) AS BIGINT) AS s,
        |    sum(CAST(n AS HUGEINT) * n) AS t FROM cnt GROUP BY source, bucket),
        |nd AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM cnt GROUP BY source)
        |SELECT pb.source, nd.n_docs, CAST(sum(t) AS BIGINT) AS grad_sumsq,
        |  CAST(sum(CAST(s AS HUGEINT) * s) AS BIGINT) AS gnorm2_sum,
        |  CAST((nd.n_docs * sum(t) - sum(CAST(s AS HUGEINT) * s)) * 1000000
        |    // nullif(sum(CAST(s AS HUGEINT) * s), 0) AS BIGINT) AS b_simple_e6
        |FROM pb JOIN nd USING (source)
        |GROUP BY pb.source, nd.n_docs ORDER BY pb.source""".stripMargin,

    // Greedy max-coverage replay: 8 unrolled MATERIALIZED rounds, each
    // an anti-membership count + (gain desc, doc_id) LIMIT 1, winners
    // unioned with a running coverage window.
    "q_max_coverage" -> {
      val rounds = (1 to 8).map { r =>
        val src = if (r == 1) "dt"
          else s"dt WHERE tok NOT IN (SELECT tok FROM c${r - 1})"
        val w = s"""w$r AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS g
           |  FROM $src GROUP BY doc_id ORDER BY g DESC, doc_id LIMIT 1)""".stripMargin
        val c = if (r == 8) "" else if (r == 1)
          s""",
             |c1 AS MATERIALIZED (SELECT DISTINCT tok FROM dt
             |  WHERE doc_id IN (SELECT doc_id FROM w1))""".stripMargin
        else
          s""",
             |c$r AS MATERIALIZED (SELECT tok FROM c${r - 1} UNION SELECT tok FROM dt
             |  WHERE doc_id IN (SELECT doc_id FROM w$r))""".stripMargin
        w + c
      }.mkString(",\n")
      val sel = (1 to 8).map(r => s"SELECT $r AS r, doc_id, g FROM w$r")
        .mkString(" UNION ALL ")
      s"""WITH dt AS MATERIALIZED (SELECT DISTINCT doc_id,
        |    ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS tok FROM (
        |    SELECT doc_id, ${wordsSql("lower(text)")} AS ws FROM documents) t,
        |    LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) p
        |  WHERE len(ws) >= 3),
        |tot AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS t FROM dt),
        |$rounds,
        |sel AS ($sel)
        |SELECT CAST(r AS BIGINT) AS round, doc_id, g AS gain,
        |  CAST(sum(g) OVER (ORDER BY r) AS BIGINT) AS covered_types,
        |  CAST(sum(g) OVER (ORDER BY r) * 1000000 // (SELECT t FROM tot)
        |    AS BIGINT) AS covered_share_e6
        |FROM sel ORDER BY round""".stripMargin
    },

    // Coreness replay: symmetrized-distinct adjacency, degree seed,
    // 8 unrolled h-index rounds (rank window + max(least)).
    "q_coreness" -> {
      def iter(i: Int): String =
        s"""cv$i AS MATERIALIZED (
           |  SELECT src AS node, CAST(max(least(rnk, nv)) AS BIGINT) AS v FROM (
           |    SELECT e.src, c.v AS nv, CAST(row_number() OVER (PARTITION BY e.src
           |      ORDER BY c.v DESC, e.dst) AS BIGINT) AS rnk
           |    FROM cu0 e JOIN cv${i - 1} c ON e.dst = c.node) t
           |  GROUP BY src)""".stripMargin
      s"""WITH p AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |ed AS (SELECT DISTINCT src, dst FROM p WHERE dst IS NOT NULL AND src <> dst),
         |cu0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM
         |  (SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed) t),
         |cv0 AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS v
         |  FROM cu0 GROUP BY src),
         |${(1 to 8).map(iter).mkString(",\n")}
         |SELECT v AS coreness, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM cv8 GROUP BY v ORDER BY coreness""".stripMargin
    },

    // LTM-cascade replay: multiplicity-degree seeds (endpoint counts
    // over the directed pairs — the seed-rule contract), symmetrized
    // adjacency, 4 unrolled threshold rounds, lag adoption curve.
    "q_cascade" -> {
      def round(r: Int): String =
        s"""ai$r AS MATERIALIZED (SELECT e.dst AS node, CAST(count(*) AS BIGINT) AS n_in
           |  FROM lu0 e WHERE e.src IN (SELECT node FROM a${r - 1}) GROUP BY e.dst),
           |a$r AS MATERIALIZED (SELECT node FROM a${r - 1}
           |  UNION
           |  SELECT ai.node FROM ai$r ai JOIN lthr t USING (node)
           |  WHERE ai.n_in * 1000000 >= t.theta * t.indeg)""".stripMargin
      val sel = (0 to 4).map(r =>
        s"SELECT $r AS round, (SELECT count(*) FROM a$r) AS n_active")
        .mkString("\n  UNION ALL ")
      s"""WITH p AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |ed AS (SELECT DISTINCT src, dst FROM p WHERE dst IS NOT NULL AND src <> dst),
         |ldg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed) t GROUP BY node),
         |lnn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ldg),
         |a0 AS (SELECT node FROM ldg ORDER BY d DESC, node LIMIT 16),
         |lu0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM
         |  (SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed) t),
         |lthr AS MATERIALIZED (SELECT node, indeg,
         |    ${hSql("concat('ltm:', CAST(node AS VARCHAR))")} % 1000000 AS theta
         |  FROM (SELECT dst AS node, CAST(count(*) AS BIGINT) AS indeg
         |    FROM lu0 GROUP BY dst) i),
         |${(1 to 4).map(round).mkString(",\n")},
         |sel AS (
         |  $sel)
         |SELECT CAST(round AS BIGINT) AS round,
         |  CAST(n_active - coalesce(lag(n_active) OVER (ORDER BY round), 0)
         |    AS BIGINT) AS newly_active,
         |  CAST(n_active AS BIGINT) AS n_active,
         |  CAST(n_active * 1000000 // (SELECT n FROM lnn) AS BIGINT) AS coverage_e6
         |FROM sel ORDER BY round""".stripMargin
    },

    // Dup-scaling replay: salted hash strata, nested subsets, exact
    // md5-distinct rates.
    "q_dup_scaling" -> {
      val rows = Seq(1, 2, 4).map { s =>
        s"""SELECT CAST(${s * 25} AS BIGINT) AS subset_pct,
           |    CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
           |    CAST((count(*) - count(DISTINCT h)) * 1000000 // count(*)
           |      AS BIGINT) AS dup_rate_e6
           |  FROM dsd WHERE stratum < $s""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH dsd AS (SELECT doc_id, md5(text) AS h,
         |    ${hSql("concat('ds:', CAST(doc_id AS VARCHAR))")} % 4 AS stratum
         |  FROM documents)
         |$rows
         |ORDER BY subset_pct""".stripMargin
    },

    // Gate-Venn replay: the q_curation lang/quality scoring over RAW
    // docs, md5 exact groups, the lshSideCtes near-dup loser rule, the
    // lmCtes keep flag, and the gopher flag block — six flags, one
    // GROUP BY over the observed combinations.
    "q_filter_attribution" ->
      s"""WITH fab0 AS (SELECT doc_id, text, lang,
        |    ' ' || lower(text) || ' ' AS pt, ${wordsSql("text")} AS w
        |  FROM documents),
        |fas AS (SELECT doc_id,
        |    ${langScoreSql("en")} AS s_en, ${langScoreSql("es")} AS s_es,
        |    ${langScoreSql("de")} AS s_de, ${langScoreSql("zh")} AS s_zh,
        |    round(least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.5
        |      + (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / length(text)) * 0.3
        |      + CAST(len(list_distinct(w)) AS DOUBLE) / len(w) * 0.2, 6) AS quality
        |  FROM fab0),
        |falq AS (SELECT doc_id,
        |    NOT (s_en >= s_es AND s_en >= s_de AND s_en >= s_zh AND s_en > 0)
        |      AS kill_lang,
        |    quality < ${graft.ops.Curation.QualityMin} AS kill_quality
        |  FROM fas),
        |famap AS (SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY md5(text)) AS rid
        |  FROM documents),
        |farep AS (SELECT d.doc_id, d.text FROM documents d
        |  JOIN famap m USING (doc_id) WHERE d.doc_id = m.rid),
        |${lshSideCtes("fa", "farep")},
        |facand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bandfa a JOIN bandfa b ON a.band = b.band AND a.doc_id < b.doc_id),
        |fanear AS (SELECT DISTINCT doc_b AS rid FROM (
        |    SELECT doc_a, doc_b,
        |      round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        |        / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS j
        |    FROM facand JOIN shfa sa ON facand.doc_a = sa.doc_id
        |      JOIN shfa sb ON facand.doc_b = sb.doc_id)
        |  WHERE j >= ${graft.ops.Curation.JaccardMin}),
        |flentr AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
        |${lmCtes("fl", "flentr", "documents", graft.ops.Curation.LmPerBigramMicro)},
        |faw0 AS (SELECT doc_id, ${wordsSql("lower(text)")} AS ws FROM documents),
        |fam AS (SELECT doc_id,
        |$gopherMetricsSql
        |  FROM faw0),
        |fagop AS (SELECT doc_id, NOT (
        |    n_words BETWEEN 50 AND 100000
        |    AND (sum_len * 1000 // n_words) BETWEEN 3000 AND 10000
        |    AND n_alpha * 1000000 // n_words >= 800000
        |    AND n_stop >= 2
        |    AND coalesce(dup_bg * 1000000 // nullif(tot_bg, 0) <= 200000, TRUE))
        |      AS kill_gopher
        |  FROM fam)
        |SELECT q.kill_lang, q.kill_quality,
        |  m.doc_id <> m.rid AS kill_exact,
        |  (n.rid IS NOT NULL) AS kill_near,
        |  NOT coalesce(sc.keep, TRUE) AS kill_lm,
        |  g.kill_gopher, CAST(count(*) AS BIGINT) AS n_docs
        |FROM falq q JOIN famap m USING (doc_id)
        |  LEFT JOIN fanear n ON m.rid = n.rid
        |  LEFT JOIN flscores sc USING (doc_id)
        |  JOIN fagop g USING (doc_id)
        |GROUP BY 1, 2, 3, 4, 5, 6 ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,

    // BPE-curve replay: the shared merge chain; the prefix-k encoding
    // IS the k-th intermediate bseq state, so each curve row is one
    // aggregate over bseq{0,2,4,6,8}.
    "q_bpe_curve" -> {
      val rows = Seq(0, 2, 4, 6, 8).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS k_merges, CAST(sum(freq) AS BIGINT) AS n_words,
           |    CAST(sum(freq * length(word)) AS BIGINT) AS n_chars,
           |    CAST(sum(freq * ns) AS BIGINT) AS n_subwords FROM (
           |  SELECT word, freq, CAST(count(*) AS BIGINT) AS ns
           |  FROM bseq$k GROUP BY word, freq)""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH $bpeChainCtes,
         |curve AS (
         |  $rows)
         |SELECT k_merges, n_words, n_chars, n_subwords,
         |  CAST(n_chars * 1000 // n_subwords AS BIGINT) AS chars_per_subword_e3
         |FROM curve ORDER BY k_merges""".stripMargin
    },

    // Source-KL replay: exact (source, token) counts, one micro6 ln
    // per model row, integer-weighted sum.
    "q_source_kl" ->
      s"""WITH tok AS (SELECT source, tok FROM (
        |    SELECT source, unnest(${wordsSql("lower(text)")}) AS tok
        |    FROM documents) u WHERE length(tok) >= 1),
        |st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY source, tok),
        |srct AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns,
        |    CAST(count(*) AS BIGINT) AS n_types FROM st GROUP BY source),
        |corp AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY tok),
        |nn AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM corp),
        |terms AS (SELECT st.source, srct.ns, srct.n_types, st.c,
        |    CAST(floor(ln(CAST(st.c * nn.n AS DOUBLE)
        |      / CAST(srct.ns * corp.ct AS DOUBLE)) * 1000000.0 + 0.5)
        |      AS BIGINT) AS lt
        |  FROM st JOIN corp USING (tok) JOIN srct USING (source) CROSS JOIN nn)
        |SELECT source, max(ns) AS n_tokens, max(n_types) AS n_types,
        |  CAST(sum(c * lt) // max(ns) AS BIGINT) AS kl_micro
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    // Densest-peel replay: 8 unrolled MATERIALIZED rounds of the
    // cross-multiplied twice-average rule, per-round stats unioned,
    // earliest-max best flag.
    "q_densest" -> {
      def round(i: Int): String =
        s"""dg$i AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS c FROM (
           |    SELECT src AS node FROM du${i - 1}
           |    UNION ALL SELECT dst FROM du${i - 1}) t GROUP BY node),
           |st$i AS MATERIALIZED (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS u,
           |    CAST(count(*) AS BIGINT) AS nv FROM dg$i),
           |rm$i AS MATERIALIZED (SELECT d.node FROM dg$i d, st$i
           |  WHERE d.c * st$i.nv <= 2 * st$i.u),
           |du$i AS MATERIALIZED (SELECT e.src, e.dst FROM du${i - 1} e
           |  WHERE e.src NOT IN (SELECT node FROM rm$i)
           |    AND e.dst NOT IN (SELECT node FROM rm$i))""".stripMargin
      val sel = (1 to 8).map(i =>
        s"SELECT $i AS round, nv, u, (SELECT count(*) FROM rm$i) AS n_removed FROM st$i")
        .mkString("\n  UNION ALL ")
      s"""WITH p AS (SELECT l_partkey AS src,
         |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |du0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM p
         |  WHERE dst IS NOT NULL AND src <> dst),
         |${(1 to 8).map(round).mkString(",\n")},
         |sel AS (
         |  $sel),
         |best AS (SELECT min(round) AS br FROM sel
         |  WHERE u * 1000000 // nullif(2 * nv, 0)
         |    = (SELECT max(u * 1000000 // nullif(2 * nv, 0)) FROM sel))
         |SELECT CAST(round AS BIGINT) AS round, nv AS n_nodes,
         |  CAST(u // 2 AS BIGINT) AS n_edges,
         |  CAST(u * 1000000 // nullif(2 * nv, 0) AS BIGINT) AS density_e6,
         |  CAST(n_removed AS BIGINT) AS n_removed,
         |  round = (SELECT br FROM best) AS is_best
         |FROM sel ORDER BY round""".stripMargin
    },

    // Gradient-alignment replay: the gn-salted count table with the
    // hash eval split, the 64-row eval gradient, exact dot products.
    "q_grad_align" ->
      s"""WITH cnt AS (SELECT doc_id, source, y, is_eval, bucket, count(*) AS n FROM (
        |    SELECT doc_id, source, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
        |      ${hSql("concat('ga:', CAST(doc_id AS VARCHAR))")} % 10 = 0 AS is_eval,
        |      ${hSql("'gn:' || tok")} % 64 AS bucket FROM (
        |      SELECT doc_id, source, lang, unnest(${wordsSql("lower(text)")}) AS tok
        |      FROM documents) u
        |    WHERE length(tok) >= 2) b
        |  GROUP BY doc_id, source, y, is_eval, bucket),
        |eg AS (SELECT bucket, CAST(sum(y * n) AS BIGINT) AS e FROM cnt
        |  WHERE is_eval GROUP BY bucket),
        |al AS (SELECT doc_id, source,
        |    CAST(max(y) * sum(n * coalesce(e, 0)) AS BIGINT) AS align
        |  FROM cnt LEFT JOIN eg USING (bucket)
        |  WHERE NOT is_eval GROUP BY doc_id, source)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(align) // count(*) AS BIGINT) AS mean_align,
        |  CAST(sum(CASE WHEN align > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_aligned,
        |  CAST(sum(CASE WHEN align > 0 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS aligned_share_e6
        |FROM al GROUP BY source ORDER BY source""".stripMargin,

    // Margin-sampling replay: the povrCtes chain, per-doc top-two rank
    // window, cross-multiplied half-mean selection rule.
    "q_margin_sample" -> {
      val labels = Seq("de", "en", "es", "fr", "zh")
      val scores = labels.map(l =>
        s"SELECT doc_id, '$l' AS label, score FROM p${l}_fs").mkString("\n  UNION ALL ")
      s"""WITH ${povrCtes(labels)},
         |msall AS (
         |  $scores),
         |msr AS (SELECT doc_id, score, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, label) AS rn FROM msall),
         |msm AS (SELECT doc_id,
         |    max(CASE WHEN rn = 1 THEN score END)
         |      - max(CASE WHEN rn = 2 THEN score END) AS margin
         |  FROM msr WHERE rn <= 2 GROUP BY doc_id),
         |mst AS (SELECT CAST(sum(margin) AS BIGINT) AS ms,
         |    CAST(count(*) AS BIGINT) AS mn FROM msm)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(margin) // count(*) AS BIGINT) AS mean_margin,
         |  CAST(sum(CASE WHEN CAST(margin AS HUGEINT) * mn * 2 < CAST(ms AS HUGEINT)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
         |  CAST(sum(CASE WHEN CAST(margin AS HUGEINT) * mn * 2 < CAST(ms AS HUGEINT)
         |    THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS sel_share_e6
         |FROM msm JOIN documents d USING (doc_id) CROSS JOIN mst
         |GROUP BY d.source ORDER BY d.source""".stripMargin
    },

    // RHO-selection replay: three lmCtes chains (half A, half B, full),
    // the cross-fitted holdout-minus-full integer difference.
    "q_rho_selection" ->
      s"""WITH raentr AS (SELECT doc_id, text FROM documents WHERE lang = 'en'
        |  AND ${hSql("concat('rho:', CAST(doc_id AS VARCHAR))")} % 2 = 0),
        |rbentr AS (SELECT doc_id, text FROM documents WHERE lang = 'en'
        |  AND ${hSql("concat('rho:', CAST(doc_id AS VARCHAR))")} % 2 = 1),
        |rfentr AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
        |${lmCtes("ra", "raentr", "documents", graft.ops.LanguageModel.KeepPerBigramMicro)},
        |${lmCtes("rb", "rbentr", "documents", graft.ops.LanguageModel.KeepPerBigramMicro)},
        |${lmCtes("rf", "rfentr", "documents", graft.ops.LanguageModel.KeepPerBigramMicro)},
        |rho AS (SELECT d.source,
        |    CASE WHEN ${hSql("concat('rho:', CAST(d.doc_id AS VARCHAR))")} % 2 = 0
        |      THEN b.score_micro ELSE a.score_micro END - f.score_micro AS rho
        |  FROM rascores a JOIN rbscores b USING (doc_id)
        |    JOIN rfscores f USING (doc_id) JOIN documents d USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(rho) // count(*) AS BIGINT) AS mean_rho_micro,
        |  CAST(sum(CASE WHEN rho > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
        |  CAST(sum(CASE WHEN rho > 0 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS pos_share_e6
        |FROM rho GROUP BY source ORDER BY source""".stripMargin,

    // Compute-plan replay: one corpus token count, the literal model
    // ladder, exact HUGEINT arithmetic.
    "q_compute_plan" ->
      s"""WITH toks AS (SELECT CAST(sum(len(${wordsSql("lower(text)")}))
        |    AS BIGINT) AS d_avail FROM documents),
        |g AS (SELECT d_avail, unnest([125000000, 350000000, 1300000000,
        |    2700000000, 6700000000, 13000000000, 30000000000,
        |    70000000000]) AS n_params FROM toks)
        |SELECT CAST(n_params AS BIGINT) AS n_params, d_avail,
        |  CAST(n_params * 20 AS BIGINT) AS tokens_needed,
        |  CAST(CAST(n_params AS HUGEINT) * n_params * 120
        |    // 1000000000000000 AS BIGINT) AS flops_pf,
        |  CAST(n_params * 20 * 1000000 // d_avail AS BIGINT) AS epochs_needed_e6,
        |  n_params * 20 <= d_avail AS fits_one_epoch
        |FROM g ORDER BY n_params""".stripMargin,

    // CCNet-bucket replay: the lmCtes chain, per-doc truncating mean,
    // per-lang rank window, tercile split.
    "q_ccnet_buckets" ->
      s"""WITH entr AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
        |${lmCtes("cc", "entr", "documents", graft.ops.LanguageModel.KeepPerBigramMicro)},
        |pd AS (SELECT s.doc_id, d.lang, d.source,
        |    s.score_micro // s.n_bigrams AS avg_micro
        |  FROM ccscores s JOIN documents d USING (doc_id)),
        |nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM pd GROUP BY lang),
        |r AS (SELECT pd.*, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY avg_micro DESC, doc_id) AS BIGINT) AS rnk FROM pd),
        |b AS (SELECT r.lang, r.source, r.avg_micro,
        |    (r.rnk - 1) * 3 // nl.n_lang AS bucket FROM r JOIN nl USING (lang))
        |SELECT lang, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(avg_micro) // count(*) AS BIGINT) AS mean_avg_micro,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,

    // Clip-audit replay: the gn-salted count table, per-doc floor-sqrt
    // norms, literal 4-point grid.
    "q_grad_clip" ->
      s"""WITH cnt AS (SELECT doc_id, bucket, count(*) AS n FROM (
        |    SELECT doc_id, ${hSql("'gn:' || tok")} % 64 AS bucket FROM (
        |      SELECT doc_id, unnest(${wordsSql("lower(text)")}) AS tok
        |      FROM documents) u
        |    WHERE length(tok) >= 2) b GROUP BY doc_id, bucket),
        |nrm AS (SELECT doc_id,
        |    CAST(floor(sqrt(CAST(sum(n * n) AS DOUBLE))) AS BIGINT) AS nrm
        |  FROM cnt GROUP BY doc_id),
        |g AS (SELECT nrm, unnest([16, 32, 64, 128]) AS clip_c FROM nrm)
        |SELECT CAST(clip_c AS BIGINT) AS clip_c, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN nrm > clip_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
        |  CAST(sum(CASE WHEN nrm > clip_c THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS frac_clipped_e6,
        |  CAST(sum(least(nrm, clip_c)) * 1000000
        |    // nullif(sum(nrm), 0) AS BIGINT) AS mass_kept_e6
        |FROM g GROUP BY clip_c ORDER BY clip_c""".stripMargin,

    // Confident-learning replay: the povrCtes training chain, per-class
    // mean-self-confidence thresholds (cross-multiplied), confident
    // argmax, joint counts.
    "q_label_noise" -> {
      val labels = Seq("de", "en", "es", "fr", "zh")
      val scores = labels.map(l =>
        s"SELECT doc_id, '$l' AS label, score FROM p${l}_fs").mkString("\n  UNION ALL ")
      s"""WITH ${povrCtes(labels)},
         |lnall AS (
         |  $scores),
         |lnthr AS (SELECT a.label, CAST(sum(a.score) AS BIGINT) AS ts,
         |    CAST(count(*) AS BIGINT) AS tn
         |  FROM lnall a JOIN povrd d USING (doc_id)
         |  WHERE d.lang = a.label GROUP BY a.label),
         |lnconf AS (SELECT a.doc_id, d.lang, a.label, a.score
         |  FROM lnall a JOIN povrd d USING (doc_id) JOIN lnthr t ON a.label = t.label
         |  WHERE CAST(a.score AS HUGEINT) * t.tn >= CAST(t.ts AS HUGEINT)),
         |lnpred AS (SELECT doc_id, lang, label AS pred_lang FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, label) AS rn FROM lnconf) WHERE rn = 1)
         |SELECT lang AS given_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
         |FROM lnpred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    // Embedding-dispersion replay: the embed_drift quantization CTE,
    // per-(label, dim) moments, the pairwise-distance identity.
    "q_embed_dispersion" ->
      """WITH q AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    unnest(range(len(embedding))) AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS qx
        |  FROM embeddings),
        |bd AS (SELECT label, dim, CAST(sum(qx) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n, sum(CAST(qx AS HUGEINT) * qx) AS t
        |  FROM q GROUP BY 1, 2)
        |SELECT label, max(n) AS n_vecs,
        |  CAST(sum(t) // max(n) AS BIGINT) AS mean_norm2_e12,
        |  CAST((max(n) * sum(t) - sum(CAST(s AS HUGEINT) * s)) * 2
        |    // nullif(CAST(max(n) AS HUGEINT) * (max(n) - 1), 0) AS BIGINT)
        |    AS mean_pairdist2_e12
        |FROM bd GROUP BY label ORDER BY label""".stripMargin,

    // Source-overlap replay: per-source top-50 rank window, sorted
    // token lists, exact pairwise Jaccard.
    "q_source_overlap" ->
      s"""WITH tok AS (SELECT source, tok, count(*) AS c FROM (
        |    SELECT source, unnest(${wordsSql("lower(text)")}) AS tok
        |    FROM documents) u
        |  WHERE length(tok) >= 2 GROUP BY source, tok),
        |rk AS (SELECT source, tok, row_number() OVER
        |    (PARTITION BY source ORDER BY c DESC, tok) AS rnk FROM tok),
        |sets AS (SELECT source, list_sort(list(tok)) AS toks
        |  FROM rk WHERE rnk <= 50 GROUP BY source)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_shared,
        |  CAST(len(list_intersect(a.toks, b.toks)) * 1000000
        |    // len(list_distinct(list_concat(a.toks, b.toks))) AS BIGINT)
        |    AS jaccard_e6
        |FROM sets a JOIN sets b ON a.source < b.source
        |ORDER BY src_a, src_b""".stripMargin,

    // Quality-frontier replay: the shared micro-quality expression
    // against the 5-point literal grid.
    "q_quality_frontier" ->
      s"""WITH qd AS (SELECT
        |    CAST(floor(round(least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.5
        |      + (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / length(text)) * 0.3
        |      + CAST(len(list_distinct(w)) AS DOUBLE) / len(w) * 0.2, 6) * 1000000.0 + 0.5)
        |      AS BIGINT) AS q_micro,
        |    CAST(len(${wordsSql("lower(text)")}) AS BIGINT) AS toks
        |  FROM (SELECT text, ${wordsSql("text")} AS w FROM documents)),
        |g AS (SELECT CAST(unnest([300000, 400000, 500000, 600000, 700000])
        |    AS BIGINT) AS thr_micro)
        |SELECT thr_micro, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN q_micro >= thr_micro THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(CASE WHEN q_micro >= thr_micro THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS kept_docs_e6,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN q_micro >= thr_micro THEN toks ELSE 0 END)
        |    AS BIGINT) AS kept_tokens,
        |  CAST(sum(CASE WHEN q_micro >= thr_micro THEN toks ELSE 0 END)
        |    * 1000000 // sum(toks) AS BIGINT) AS kept_tokens_e6
        |FROM qd CROSS JOIN g GROUP BY thr_micro ORDER BY thr_micro""".stripMargin,

    // Source-repetition replay: the gram8 chain joined back to source,
    // per-(source, gram) counts, exact repetition shares.
    "q_source_repetition" ->
      s"""WITH ${gram8Ctes("sr", "documents")},
        |pg AS (SELECT d.source, srh.h, CAST(count(*) AS BIGINT) AS c
        |  FROM srh JOIN documents d USING (doc_id) GROUP BY d.source, srh.h)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_gram_occ,
        |  CAST(count(*) AS BIGINT) AS n_distinct_grams,
        |  CAST(sum(c) * 1000 // count(*) AS BIGINT) AS rep_factor_e3,
        |  CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1000000 // sum(c)
        |    AS BIGINT) AS repeated_occ_e6
        |FROM pg GROUP BY source ORDER BY source""".stripMargin,

    // BPE-compression replay: the q_bpe_encode 8-iteration chain with
    // a per-source rollup instead of per-doc.
    "q_bpe_compression" ->
      s"""WITH $bpeChainCtes,
         |enc AS (SELECT word, CAST(count(*) AS BIGINT) AS n_subwords FROM bseq8 GROUP BY word),
         |dw AS (SELECT source, word, CAST(length(word) AS BIGINT) AS wlen FROM (
         |    SELECT source, unnest(${wordsSql("lower(text)")}) AS word FROM documents) u
         |  WHERE length(word) >= 1)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(wlen) AS BIGINT) AS n_chars,
         |  CAST(sum(n_subwords) AS BIGINT) AS n_subwords,
         |  CAST(sum(wlen) * 1000 // sum(n_subwords) AS BIGINT)
         |    AS chars_per_subword_e3,
         |  CAST(sum(n_subwords) * 1000 // count(*) AS BIGINT)
         |    AS subwords_per_word_e3
         |FROM dw JOIN enc USING (word)
         |GROUP BY source ORDER BY source""".stripMargin,

    // Shuffle-runs replay: the train-order CTEs, one lead window per
    // (epoch, shard), exact pooled adjacency expectation.
    "q_shuffle_runs" ->
      s"""$trainOrderCtes,
        |adj AS (SELECT epoch, CAST(count(*) AS BIGINT) AS n_adj,
        |    CAST(sum(CASE WHEN nxt = source THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_same
        |  FROM (SELECT epoch, source, lead(source, 1) OVER
        |      (PARTITION BY epoch, shard ORDER BY pos) AS nxt FROM p) s
        |  WHERE nxt IS NOT NULL GROUP BY epoch),
        |nsc AS (SELECT epoch, shard, source, CAST(count(*) AS BIGINT) AS ns
        |  FROM p GROUP BY 1, 2, 3),
        |shc AS (SELECT epoch, shard,
        |    CAST(sum(ns * (ns - 1)) AS BIGINT) AS a_sh,
        |    CAST(sum(ns) AS BIGINT) AS n_sh FROM nsc GROUP BY 1, 2),
        |ex AS (SELECT epoch, CAST(sum(a_sh * 1000000 // n_sh) AS BIGINT)
        |    AS exp_same_e6 FROM shc GROUP BY epoch)
        |SELECT a.epoch, a.n_adj, a.n_same,
        |  CAST(a.n_same * 1000000 // a.n_adj AS BIGINT) AS same_e6,
        |  CAST(ex.exp_same_e6 // a.n_adj AS BIGINT) AS expected_e6
        |FROM adj a JOIN ex USING (epoch) ORDER BY a.epoch""".stripMargin,

    // Effective-epochs replay: HUGEINT weight·token products, the same
    // truncating rationals.
    "q_effective_epochs" ->
      s"""WITH t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CAST(len(regexp_extract_all(
        |      text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT)) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT t.*, CASE WHEN source = 'src0' THEN 2000000
        |    WHEN source = 'src1' THEN 1500000
        |    WHEN source = 'src2' THEN 250000 ELSE 1000000 END AS weight_ppm
        |  FROM t),
        |w2 AS (SELECT *, CAST(weight_ppm AS HUGEINT) * n_tokens AS wt FROM w),
        |s AS (SELECT sum(wt) AS swt FROM w2)
        |SELECT source, n_docs, n_tokens, CAST(weight_ppm AS BIGINT) AS weight_ppm,
        |  CAST(wt * 1000000 // swt AS BIGINT) AS share_e6,
        |  CAST(10000000 * wt // swt AS BIGINT) AS sampled_tokens,
        |  CAST(CAST(10000000 AS HUGEINT) * weight_ppm * 1000 // swt AS BIGINT)
        |    AS eff_epochs_e3,
        |  CAST(10000000 AS HUGEINT) * weight_ppm * 1000 // swt > 1000 AS repeats
        |FROM w2 CROSS JOIN s ORDER BY source""".stripMargin,

    // Gopher-rule replay: per-doc exact integer metrics off one list
    // projection, per-source fail counts and kept share.
    "q_gopher_rules" ->
      s"""WITH w0 AS (SELECT source, ${wordsSql("lower(text)")} AS ws FROM documents),
        |m AS (SELECT source,
        |$gopherMetricsSql
        |  FROM w0),
        |r AS (SELECT source,
        |    n_words BETWEEN 50 AND 100000 AS r_wc,
        |    (sum_len * 1000 // n_words) BETWEEN 3000 AND 10000 AS r_mwl,
        |    n_alpha * 1000000 // n_words >= 800000 AS r_alpha,
        |    n_stop >= 2 AS r_stop,
        |    coalesce(dup_bg * 1000000 // nullif(tot_bg, 0) <= 200000, TRUE)
        |      AS r_dup2
        |  FROM m),
        |k AS (SELECT *, (r_wc AND r_mwl AND r_alpha AND r_stop AND r_dup2)
        |    AS keep FROM r)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordcount,
        |  CAST(sum(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS fail_meanwordlen,
        |  CAST(sum(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alphaword,
        |  CAST(sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopword,
        |  CAST(sum(CASE WHEN NOT r_dup2 THEN 1 ELSE 0 END) AS BIGINT) AS fail_dupbigram,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000 // count(*)
        |    AS BIGINT) AS kept_e6
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    // PPS replay: exact ppm inclusion probabilities, the same salted
    // hash draw, HT total over the included docs.
    "q_pps_sample" ->
      s"""WITH d AS (SELECT doc_id,
        |    CAST(len(${wordsSql("lower(text)")}) AS BIGINT) AS s FROM documents),
        |t AS (SELECT CAST(sum(s) AS BIGINT) AS stot,
        |    CAST(count(*) AS BIGINT) AS nd FROM d),
        |m AS (SELECT doc_id, s,
        |    least(1000000, s * 100 * 1000000 // stot) AS pi_e6,
        |    ${hSql("concat('pps:', CAST(doc_id AS VARCHAR))")} % 1000000
        |      < least(1000000, s * 100 * 1000000 // stot) AS inc
        |  FROM d CROSS JOIN t)
        |SELECT (SELECT nd FROM t) AS n_docs,
        |  CAST(sum(CASE WHEN pi_e6 = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_certain,
        |  CAST(sum(CASE WHEN inc THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  (SELECT stot FROM t) AS true_total,
        |  CAST(sum(CASE WHEN inc THEN s * 1000000 // pi_e6 ELSE 0 END)
        |    AS BIGINT) AS ht_total,
        |  CAST(CAST(sum(CASE WHEN inc THEN s * 1000000 // pi_e6 ELSE 0 END)
        |    AS BIGINT) * 1000000 // (SELECT stot FROM t) AS BIGINT) AS ratio_e6
        |FROM m""".stripMargin,

    // Data-map replay: the dm-prefixed 3-pass perceptron chain; per-doc
    // correctness under each pass's weights (chain s2/s3 = pass-1/2
    // scores, dms4 scores with w3/b3), per-lang category counts.
    "q_data_map" ->
      s"""WITH dm0 AS (
        |${pcptCounts("documents")}),
        |${pcptChain("dm", "dm0")},
        |dms4 AS (SELECT c.doc_id, c.y,
        |    CAST(sum(c.n * coalesce(a.w, 0)) AS BIGINT)
        |      + (SELECT b FROM dmb3) AS s
        |  FROM dm0 c LEFT JOIN dmw3 a USING (bucket) GROUP BY c.doc_id, c.y),
        |cat AS (SELECT a.doc_id,
        |    (CASE WHEN a.y * a.s > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN b.y * b.s > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN c.y * c.s > 0 THEN 1 ELSE 0 END) AS nc
        |  FROM dms2 a JOIN dms3 b USING (doc_id) JOIN dms4 c USING (doc_id))
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN nc = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_easy,
        |  CAST(sum(CASE WHEN nc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hard,
        |  CAST(sum(CASE WHEN nc > 0 AND nc < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ambiguous
        |FROM cat JOIN documents d USING (doc_id)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    // DoReMi replay: the lmCtes scoring chain, per-source means,
    // excess over baseline, largest-remainder ppm normalization via
    // the bounded self-join rank.
    "q_doremi_weights" ->
      s"""WITH entr AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
        |${lmCtes("dw", "entr", "documents", graft.ops.LanguageModel.KeepPerBigramMicro)},
        |per AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(s.n_bigrams) AS BIGINT) AS n_bigrams,
        |    CAST(sum(s.score_micro) AS BIGINT) AS sm
        |  FROM dwscores s JOIN documents d USING (doc_id) GROUP BY d.source),
        |per2 AS (SELECT *, sm // n_bigrams AS mean_micro FROM per),
        |bl AS (SELECT CAST(sum(sm) AS BIGINT) // CAST(sum(n_bigrams) AS BIGINT)
        |    AS base_micro FROM per2),
        |wt AS (SELECT per2.*,
        |    greatest(base_micro - mean_micro, 0) AS excess_micro,
        |    1000000 + greatest(base_micro - mean_micro, 0) AS w
        |  FROM per2 CROSS JOIN bl),
        |sw AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM wt),
        |fl AS (SELECT wt.*, w * 1000000 // sw AS ppm_floor,
        |    (w * 1000000) % sw AS rem FROM wt CROSS JOIN sw),
        |lo AS (SELECT 1000000 - CAST(sum(ppm_floor) AS BIGINT) AS lo FROM fl),
        |rk AS (SELECT a.source, CAST(count(b.source) AS BIGINT) AS n_better
        |  FROM fl a LEFT JOIN fl b ON b.rem > a.rem
        |    OR (b.rem = a.rem AND b.source < a.source)
        |  GROUP BY a.source)
        |SELECT a.source, a.n_docs, a.n_bigrams, a.mean_micro, a.excess_micro,
        |  CAST(a.ppm_floor + CASE WHEN rk.n_better < lo.lo THEN 1 ELSE 0 END
        |    AS BIGINT) AS weight_ppm
        |FROM fl a JOIN rk USING (source) CROSS JOIN lo
        |ORDER BY a.source""".stripMargin,

    // Novelty-curve replay: the gram8 first-occurrence index bucketed
    // by id decile, occurrence totals per decile, bounded cumulative
    // self-join.
    "q_novelty_curve" ->
      s"""WITH ${gram8Ctes("nv", "documents")},
        |nd AS (SELECT max(doc_id) + 1 AS nd FROM documents),
        |fo AS (SELECT h, min(key) AS first_key FROM nvh GROUP BY h),
        |npd AS (SELECT least((first_key // 1000000) * 10 // nd, 9) AS decile,
        |    CAST(count(*) AS BIGINT) AS n_new_grams
        |  FROM fo CROSS JOIN nd GROUP BY 1),
        |opd AS (SELECT least(doc_id * 10 // nd, 9) AS decile,
        |    CAST(sum(greatest(len(${wordsSql("lower(text)")}) - 7, 0)) AS BIGINT)
        |      AS n_gram_occ
        |  FROM documents CROSS JOIN nd GROUP BY 1),
        |sp AS (SELECT CAST(unnest(range(10)) AS BIGINT) AS decile),
        |cnt AS (SELECT sp.decile, coalesce(n_new_grams, 0) AS n_new_grams,
        |    coalesce(n_gram_occ, 0) AS n_gram_occ
        |  FROM sp LEFT JOIN npd USING (decile) LEFT JOIN opd USING (decile))
        |SELECT c.decile, CAST(c.n_new_grams AS BIGINT) AS n_new_grams,
        |  CAST(c.n_gram_occ AS BIGINT) AS n_gram_occ,
        |  CAST(sum(c2.n_new_grams) AS BIGINT) AS cum_new_grams,
        |  CAST(c.n_new_grams * 1000000 // nullif(c.n_gram_occ, 0) AS BIGINT)
        |    AS novelty_e6
        |FROM cnt c JOIN cnt c2 ON c2.decile <= c.decile
        |GROUP BY c.decile, c.n_new_grams, c.n_gram_occ
        |ORDER BY c.decile""".stripMargin,

    // Neyman replay: exact stratum moments, one IEEE sqrt per stratum,
    // largest-remainder allocation via the bounded self-join rank.
    "q_neyman_alloc" ->
      """WITH st0 AS (SELECT o_orderpriority AS stratum,
        |    CAST(count(*) AS BIGINT) AS n_h,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS s,
        |    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |      * CAST(round(o_totalprice * 100, 0) AS HUGEINT)) AS sxx
        |  FROM orders GROUP BY 1),
        |st AS (SELECT stratum, n_h,
        |    CAST(floor(sqrt(CAST(n_h * sxx - CAST(s AS HUGEINT) * s AS DOUBLE))
        |      / n_h * 1000.0) AS BIGINT) AS sd_e3 FROM st0),
        |wt AS (SELECT *, n_h * sd_e3 AS w FROM st),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw,
        |    CAST(sum(n_h) AS BIGINT) AS ntot FROM wt),
        |fl AS (SELECT wt.*, w * 1000 // sw AS alloc_floor,
        |    (w * 1000) % sw AS rem, n_h * 1000 // ntot AS prop_alloc
        |  FROM wt CROSS JOIN tot),
        |lo AS (SELECT 1000 - CAST(sum(alloc_floor) AS BIGINT) AS lo FROM fl),
        |rk AS (SELECT a.stratum, CAST(count(b.stratum) AS BIGINT) AS n_better
        |  FROM fl a LEFT JOIN fl b ON b.rem > a.rem
        |    OR (b.rem = a.rem AND b.stratum < a.stratum)
        |  GROUP BY a.stratum)
        |SELECT a.stratum, a.n_h, a.sd_e3,
        |  CAST(a.alloc_floor + CASE WHEN rk.n_better < lo.lo THEN 1 ELSE 0 END
        |    AS BIGINT) AS neyman_alloc,
        |  CAST(a.prop_alloc AS BIGINT) AS prop_alloc
        |FROM fl a JOIN rk USING (stratum) CROSS JOIN lo
        |ORDER BY a.stratum""".stripMargin,

    // Hoeffding replay: hash groups, exact cross-multiplied deviation
    // predicate, one e9-floored exp per (group, k) over an exact
    // integer exponent input.
    "q_hoeffding_bound" ->
      s"""WITH o AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x FROM orders),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
        |    max(x) - min(x) AS range,
        |    greatest(CAST(count(*) AS BIGINT) // 100, 1) AS ngrp FROM o),
        |g AS (SELECT ${hSql("concat('hoeff:', CAST(o_orderkey AS VARCHAR))")}
        |      % ngrp AS grp,
        |    CAST(count(*) AS BIGINT) AS mg, CAST(sum(x) AS BIGINT) AS sumg
        |  FROM o CROSS JOIN m GROUP BY 1),
        |ks AS (SELECT CAST(unnest([3, 5, 8, 12]) AS BIGINT) AS k_pct),
        |cells AS (SELECT k_pct, ngrp,
        |    CASE WHEN abs(CAST(sumg AS HUGEINT) * n - CAST(s AS HUGEINT) * mg)
        |      >= CAST(k_pct * range // 100 AS HUGEINT) * mg * n
        |      THEN 1 ELSE 0 END AS exceed,
        |    CAST(floor(least(1000000000.0, 2.0e9
        |      * exp(CAST(mg * k_pct * k_pct * -2 AS DOUBLE) / 10000.0)))
        |      AS BIGINT) AS bound_e9
        |  FROM g CROSS JOIN m CROSS JOIN ks)
        |SELECT k_pct, CAST(max(ngrp) AS BIGINT) AS n_groups,
        |  CAST(sum(exceed) AS BIGINT) AS n_exceed,
        |  CAST(sum(exceed) * 1000000 // max(ngrp) AS BIGINT) AS observed_e6,
        |  CAST(sum(bound_e9) // (max(ngrp) * 1000) AS BIGINT) AS bound_e6,
        |  sum(exceed) * 1000000 // max(ngrp)
        |    <= sum(bound_e9) // (max(ngrp) * 1000) AS bound_holds
        |FROM cells GROUP BY k_pct ORDER BY k_pct""".stripMargin,

    // Index-size replay: distinct postings, top-20 df shortlist,
    // per-token gap stream, exact bit-length arithmetic via bin().
    "q_index_size" ->
      """WITH post AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents)
        |  WHERE length(token) >= 2 GROUP BY token, doc_id),
        |u AS (SELECT max(doc_id) + 1 AS uu FROM post),
        |top AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM post
        |  GROUP BY token ORDER BY df DESC, token LIMIT 20),
        |gaps AS (SELECT p.token, t.df,
        |    p.doc_id - coalesce(lag(p.doc_id)
        |      OVER (PARTITION BY p.token ORDER BY p.doc_id), -1) AS gap
        |  FROM post p JOIN top t USING (token)),
        |agg AS (SELECT token, df, uu,
        |    CAST(sum(1 + (length(bin(gap)) - 1) // 7) AS BIGINT)
        |      AS varint_bytes
        |  FROM gaps CROSS JOIN u GROUP BY 1, 2, 3)
        |SELECT token, df AS n_postings,
        |  CAST(df * length(bin(uu - 1)) AS BIGINT) AS raw_bits,
        |  CAST(df * (greatest(length(bin(uu // df)) - 1, 0) + 2) AS BIGINT)
        |    AS ef_bits,
        |  varint_bytes,
        |  CAST(df * (greatest(length(bin(uu // df)) - 1, 0) + 2) * 1000000
        |    // df AS BIGINT) AS ef_bits_per_posting_e6,
        |  CAST(df * (greatest(length(bin(uu // df)) - 1, 0) + 2) * 1000000
        |    // (df * length(bin(uu - 1))) AS BIGINT) AS ef_vs_raw_e6
        |FROM agg ORDER BY n_postings DESC, token""".stripMargin,

    // One-step Cox replay: logrank's risk-set support walk, per-time
    // truncating score/information terms, sign-safe floor(double) beta.
    "q_cox" ->
      """WITH u AS (SELECT user_id, min(d) AS f, max(d) AS l FROM (
        |    SELECT user_id,
        |      epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
        |    FROM events) GROUP BY user_id),
        |md AS (SELECT max(l) AS maxd FROM u),
        |per AS (SELECT user_id % 2 AS g, l - f AS t, l >= maxd - 2 AS cens
        |  FROM u CROSS JOIN md),
        |sup AS (SELECT t,
        |    CAST(sum(CASE WHEN g = 0 AND NOT cens THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN g = 0 AND cens THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN g = 1 AND NOT cens THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |    CAST(sum(CASE WHEN g = 1 AND cens THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM per GROUP BY t),
        |wk AS (SELECT *,
        |    coalesce(sum(d1 + c1) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl1,
        |    coalesce(sum(d2 + c2) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl2
        |  FROM sup),
        |tot AS (SELECT sum(d1 + c1) AS t1, sum(d2 + c2) AS t2 FROM sup),
        |terms AS (SELECT d1, d1 + d2 AS dd, t1 - cl1 AS n1, t2 - cl2 AS n2,
        |    (t1 - cl1) + (t2 - cl2) AS n
        |  FROM wk CROSS JOIN tot WHERE d1 + d2 > 0),
        |g AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
        |    CAST(sum(dd) AS BIGINT) AS d_total,
        |    sum((CAST(d1 AS HUGEINT) * n - CAST(dd AS HUGEINT) * n1)
        |      * 1000000 // n) AS u_e6,
        |    sum(CAST(dd AS HUGEINT) * n1 * n2 * 1000000
        |      // (CAST(n AS HUGEINT) * n)) AS i_e6
        |  FROM terms)
        |SELECT o1, d_total, CAST(u_e6 AS BIGINT) AS u_e6,
        |  CAST(i_e6 AS BIGINT) AS i_e6,
        |  CAST(floor(CAST(u_e6 AS DOUBLE) / i_e6 * 1000000.0 + 0.5)
        |    AS BIGINT) AS beta_e6,
        |  CAST(floor(exp(CAST(u_e6 AS DOUBLE) / i_e6) * 1000000.0 + 0.5)
        |    AS BIGINT) AS hr_e6
        |FROM g""".stripMargin,

    // Meta-analysis replay: per-region Welch moments, integer
    // inverse-variance weights, sign-safe pooled floor, Cochran Q, I2.
    "q_meta_analysis" ->
      """WITH o AS (SELECT n_regionkey AS region, o_custkey % 2 = 1 AS arm,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |cells AS (SELECT region,
        |    CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    sum(CASE WHEN arm THEN x ELSE 0 END) AS s1,
        |    sum(CASE WHEN NOT arm THEN x ELSE 0 END) AS s0,
        |    sum(CASE WHEN arm THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS q1,
        |    sum(CASE WHEN NOT arm THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS q0
        |  FROM o GROUP BY 1),
        |c2 AS (SELECT *,
        |    CAST(CAST(s1 AS HUGEINT) * 1000000 // n1
        |      - CAST(s0 AS HUGEINT) * 1000000 // n0 AS BIGINT) AS d_e6,
        |    CAST((n1 * q1 - CAST(s1 AS HUGEINT) * s1) * 1000000
        |        // (CAST(n1 AS HUGEINT) * n1 * (n1 - 1))
        |      + (n0 * q0 - CAST(s0 AS HUGEINT) * s0) * 1000000
        |        // (CAST(n0 AS HUGEINT) * n0 * (n0 - 1)) AS BIGINT) AS var_e6
        |  FROM cells),
        |c3 AS (SELECT *,
        |    CAST(1000000000000000000000000000000 AS HUGEINT) // var_e6 AS wk
        |  FROM c2),
        |pool AS (SELECT CAST(count(*) AS BIGINT) AS k, sum(wk) AS wt,
        |    sum(wk * d_e6) AS num FROM c3),
        |pool2 AS (SELECT k, wt, CAST(floor(CAST(num AS DOUBLE)
        |    / CAST(wt AS DOUBLE) + 0.5) AS BIGINT) AS pooled_e6 FROM pool),
        |qq AS (SELECT k, wt, pooled_e6,
        |    CAST(sum(CAST(d_e6 - pooled_e6 AS HUGEINT)
        |      * (d_e6 - pooled_e6) // var_e6) AS BIGINT) AS q_e6
        |  FROM c3 CROSS JOIN pool2 GROUP BY k, wt, pooled_e6)
        |SELECT region, n1, n0, d_e6, var_e6,
        |  CAST(wk * 1000000 // wt AS BIGINT) AS w_share_e6,
        |  k, pooled_e6, q_e6,
        |  greatest(0, (q_e6 - (k - 1) * 1000000) * 1000000
        |    // nullif(q_e6, 0)) AS i2_e6
        |FROM c3 CROSS JOIN qq ORDER BY region""".stripMargin,

    // Absorption replay: 8 MATERIALIZED value-iteration CTEs over the
    // <=5x5 transition table, truncating-integer folds.
    "q_markov_absorption" -> {
      def it(i: Int): String =
        s"""h$i AS MATERIALIZED (SELECT t.i AS s,
           |    1000000 + sum(t.c * coalesce(h.h, 0)) // max(t.r) AS h
           |  FROM tr t LEFT JOIN h${i - 1} h ON t.j = h.s GROUP BY t.i)""".stripMargin
      s"""WITH seq AS (SELECT user_id, event_id, event_type,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS nxt
         |  FROM events),
         |tr0 AS (SELECT event_type AS i, nxt AS j,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM seq WHERE nxt IS NOT NULL AND event_type <> 'purchase'
         |  GROUP BY 1, 2),
         |tr AS MATERIALIZED (SELECT i, j, c,
         |    sum(c) OVER (PARTITION BY i) AS r FROM tr0),
         |h0 AS (SELECT DISTINCT i AS s, CAST(0 AS BIGINT) AS h FROM tr),
         |${(1 to 8).map(it).mkString(",\n")}
         |SELECT t.i AS event_type, CAST(max(t.r) AS BIGINT) AS n_transitions,
         |  CAST(max(h8.h) AS BIGINT) AS steps_to_purchase_e6
         |FROM tr t JOIN h8 ON t.i = h8.s GROUP BY t.i
         |ORDER BY t.i""".stripMargin
    },

    // Page-trend replay: block-keyed rank window on the article x dow
    // grid, exact E[L], closed-form variance, one sqrt.
    "q_page_trend" ->
      """WITH cnt AS (SELECT event_id % 40 + 1 AS article,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7 AS dow,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |arts AS (SELECT DISTINCT article FROM cnt),
        |grid AS (SELECT a.article, g.dow, coalesce(cnt.x, 0) AS x
        |  FROM arts a
        |  CROSS JOIN (SELECT CAST(unnest(range(0, 7)) AS BIGINT) AS dow) g
        |  LEFT JOIN cnt ON cnt.article = a.article AND cnt.dow = g.dow),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY article
        |    ORDER BY x, dow) AS rnk FROM grid),
        |rs AS (SELECT dow, CAST(sum(rnk) AS BIGINT) AS rank_sum,
        |    CAST(count(*) AS BIGINT) AS n_blocks FROM rk GROUP BY 1),
        |l AS (SELECT CAST(sum((dow + 1) * rank_sum) AS BIGINT) AS ll,
        |    max(n_blocks) AS n, CAST(count(*) AS BIGINT) AS k FROM rs),
        |l2 AS (SELECT ll, n, k,
        |    n * k * (k + 1) * (k + 1) // 4 AS e_l,
        |    CAST(floor(CAST(ll - n * k * (k + 1) * (k + 1) // 4 AS DOUBLE)
        |      / sqrt(CAST(n * k * k * (k + 1) * (k * k - 1) AS DOUBLE)
        |        / 144.0) * 1000000.0 + 0.5) AS BIGINT) AS z_e6
        |  FROM l)
        |SELECT rs.dow, rs.rank_sum, l2.ll AS page_l,
        |  CAST(l2.e_l AS BIGINT) AS expected_l, l2.z_e6
        |FROM rs CROSS JOIN l2 ORDER BY rs.dow""".stripMargin,

    // Propensity-overlap replay: ipw activity cells, integer mass
    // shares per arm, sum of per-cell minima.
    "q_propensity_overlap" ->
      """WITH per AS (SELECT user_id,
        |    least(CAST(count(*) AS BIGINT) // 10, 12) AS cell,
        |    CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      >= 14 THEN 1 ELSE 0 END AS dtr
        |  FROM events GROUP BY user_id),
        |cells AS (SELECT cell,
        |    CAST(sum(CASE WHEN dtr = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    CAST(sum(CASE WHEN dtr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc
        |  FROM per GROUP BY 1),
        |tot AS (SELECT sum(nt) AS ttot, sum(nc) AS ctot FROM cells),
        |sh AS (SELECT cell, nt, nc,
        |    CAST(nt * 1000000 // ttot AS BIGINT) AS ft_e6,
        |    CAST(nc * 1000000 // ctot AS BIGINT) AS fc_e6
        |  FROM cells CROSS JOIN tot),
        |ovl AS (SELECT CAST(sum(least(ft_e6, fc_e6)) AS BIGINT) AS ovl_e6
        |  FROM sh)
        |SELECT cell, nt, nc, ft_e6, fc_e6,
        |  least(ft_e6, fc_e6) AS min_e6, ovl_e6
        |FROM sh CROSS JOIN ovl ORDER BY cell""".stripMargin,

    // Bartlett replay: per-group exact variance rationals, one
    // e9-floored ln per group + pooled, closed-form correction.
    "q_bartlett" ->
      """WITH o AS (SELECT o_orderpriority AS grp,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x FROM orders),
        |pg AS (SELECT grp, CAST(count(*) AS BIGINT) AS ni, sum(x) AS sx,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx FROM o GROUP BY 1),
        |pg2 AS (SELECT *, CAST(floor(ln(
        |      CAST(ni * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
        |      / CAST(CAST(ni AS HUGEINT) * (ni - 1) AS DOUBLE))
        |    * 1000000000.0 + 0.5) AS BIGINT) AS ln_si2_e9 FROM pg),
        |pool AS (SELECT CAST(count(*) AS BIGINT) AS kk, sum(ni) AS nn,
        |    sum((ni * sxx - CAST(sx AS HUGEINT) * sx) // (ni - 1)) AS ssp,
        |    sum((ni - 1) * ln_si2_e9) AS sum_w_ln,
        |    sum(1000000000 // (ni - 1)) AS inv_e9
        |  FROM pg2),
        |pool2 AS (SELECT kk AS n_groups, nn AS n_total, kk - 1 AS df,
        |    CAST(floor(CAST((nn - kk) *
        |        CAST(floor(ln(CAST(ssp AS DOUBLE) / (nn - kk))
        |          * 1000000000.0 + 0.5) AS BIGINT) - sum_w_ln AS DOUBLE)
        |      / (1000000000 + (inv_e9 - 1000000000 / (nn - kk))
        |        / (3 * (kk - 1)))
        |      * 1000000.0 + 0.5) AS BIGINT) AS bartlett_e6
        |  FROM pool)
        |SELECT grp, ni, ln_si2_e9, n_groups,
        |  CAST(n_total AS BIGINT) AS n_total, CAST(df AS BIGINT) AS df,
        |  bartlett_e6
        |FROM pg2 CROSS JOIN pool2 ORDER BY grp""".stripMargin,

    // Turning-point replay: lag/lead over the day spine, strict local
    // extrema, closed-form mean/variance, one IEEE sqrt.
    "q_turning_points" ->
      """WITH daily AS (SELECT
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS v FROM events GROUP BY 1),
        |w AS (SELECT v, lag(v) OVER (ORDER BY d) AS pv,
        |    lead(v) OVER (ORDER BY d) AS nv FROM daily),
        |t AS (SELECT CAST(count(*) + 2 AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN (pv < v AND v > nv) OR (pv > v AND v < nv)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_turns
        |  FROM w WHERE pv IS NOT NULL AND nv IS NOT NULL)
        |SELECT n AS n_days, n_turns,
        |  (2 * (n - 2)) * 1000000 // 3 AS expected_e6,
        |  CAST(floor(CAST(n_turns * 3 - (n - 2) * 2 AS DOUBLE) / 3.0
        |    / sqrt(CAST(n * 16 - 29 AS DOUBLE) / 90.0)
        |    * 1000000.0 + 0.5) AS BIGINT) AS z_e6
        |FROM t""".stripMargin,

    // LOO data-valuation replay: one (source, token) table, LOO counts
    // by subtraction, per-term e6-floored c*ln ratio, div source mass.
    "q_source_loo" ->
      """WITH t AS (SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |st AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |  FROM t WHERE length(token) >= 2 GROUP BY 1, 2),
        |gt AS (SELECT token, sum(c) AS tc FROM st GROUP BY 1),
        |tot AS (SELECT sum(c) AS nn,
        |    CAST(count(DISTINCT token) AS BIGINT) AS vv FROM st),
        |ps AS (SELECT source, sum(c) AS ns FROM st GROUP BY 1),
        |terms AS (SELECT st.source, ps.ns,
        |    CAST(floor(st.c * ln(CAST(nn - ns + vv AS DOUBLE)
        |      / (tc - st.c + 1)) * 1000000.0 + 0.5) AS BIGINT) AS term_e6
        |  FROM st JOIN gt USING (token) JOIN ps ON st.source = ps.source
        |  CROSS JOIN tot)
        |SELECT source, CAST(ns AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(term_e6) // ns AS BIGINT) AS nll_e6
        |FROM terms GROUP BY source, ns ORDER BY source""".stripMargin,

    // Event-study replay: midpoint treatment day, per-arm per-user
    // normalized rel-day volume, pre-mean over EXISTING pre cells
    // subtracted (count(*), not the literal 5 — calendar-gap safe).
    "q_event_study" ->
      """WITH ev AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d FROM events),
        |mid AS (SELECT (min(d) + max(d)) // 2 AS mid FROM ev),
        |users AS (SELECT user_id % 2 = 0 AS treated,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM ev GROUP BY 1),
        |cell AS (SELECT user_id % 2 = 0 AS treated, d - mid AS rel,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ev CROSS JOIN mid WHERE d - mid BETWEEN -5 AND 5 GROUP BY 1, 2),
        |c2 AS (SELECT treated, rel, n, n * 1000000 // nu AS y_e6
        |  FROM cell JOIN users USING (treated)),
        |pre AS (SELECT treated, sum(y_e6) // count(*) AS pre_e6
        |  FROM c2 WHERE rel < 0 GROUP BY 1),
        |adj AS (SELECT treated, rel, n, y_e6 - pre_e6 AS dev_e6
        |  FROM c2 JOIN pre USING (treated))
        |SELECT rel AS rel_day, CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(max(CASE WHEN treated THEN dev_e6 END) AS BIGINT) AS t_dev_e6,
        |  CAST(max(CASE WHEN NOT treated THEN dev_e6 END) AS BIGINT)
        |    AS c_dev_e6,
        |  CAST(max(CASE WHEN treated THEN dev_e6 END)
        |    - max(CASE WHEN NOT treated THEN dev_e6 END) AS BIGINT) AS att_e6
        |FROM adj GROUP BY rel ORDER BY rel""".stripMargin,

    // Fisher-exact replay: k-support log-ratio walk, max-relative
    // e9-floored terms, two-sided tail sum.
    "q_fisher_exact" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ck,
        |    max(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS l
        |  FROM events GROUP BY user_id),
        |md AS (SELECT max(l) AS maxd FROM u),
        |cells AS (SELECT
        |    CAST(sum(CASE WHEN ck >= 14 AND l < maxd - 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN ck >= 14 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        |    CAST(sum(CASE WHEN ck < 14 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
        |    CAST(sum(CASE WHEN l < maxd - 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c1,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM u CROSS JOIN md),
        |sup AS (SELECT a, r1, r2, c1, n,
        |    CAST(unnest(range(greatest(0, c1 - r2), least(r1, c1) + 1))
        |      AS BIGINT) AS k
        |  FROM cells),
        |steps AS (SELECT *, CASE WHEN k = greatest(0, c1 - r2) THEN 0
        |    ELSE CAST(floor(ln((CAST(r1 - k + 1 AS DOUBLE) * (c1 - k + 1))
        |      / (CAST(k AS DOUBLE) * (r2 - c1 + k)))
        |      * 1000000000.0 + 0.5) AS BIGINT) END AS lr_e9
        |  FROM sup),
        |cum AS (SELECT *, sum(lr_e9) OVER (ORDER BY k
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l_e9
        |  FROM steps),
        |mx AS (SELECT max(l_e9) AS lmax FROM cum),
        |terms AS (SELECT cum.*, CAST(floor(exp(
        |    CAST(l_e9 - lmax AS DOUBLE) / 1.0e9) * 1000000000.0 + 0.5)
        |    AS BIGINT) AS t_e9
        |  FROM cum CROSS JOIN mx),
        |lo AS (SELECT l_e9 AS l_obs FROM terms WHERE k = a)
        |SELECT a, r1, r2, c1, n,
        |  CAST(sum(CASE WHEN l_e9 <= l_obs THEN t_e9 ELSE 0 END) * 1000000
        |    // sum(t_e9) AS BIGINT) AS p_two_e6
        |FROM terms CROSS JOIN lo
        |GROUP BY a, r1, r2, c1, n""".stripMargin,

    // Fano replay: calendar window totals from two scalars, HUGEINT
    // fraction-cleared VMR per scale.
    "q_fano" ->
      """WITH s AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s
        |  FROM events),
        |scales AS (SELECT CAST(unnest([60, 600, 3600]) AS BIGINT) AS scale),
        |wc AS (SELECT scale, s // scale AS w, CAST(count(*) AS BIGINT) AS k
        |  FROM s CROSS JOIN scales GROUP BY 1, 2),
        |sp AS (SELECT min(s) AS s0, max(s) AS s1 FROM s),
        |g AS (SELECT scale, sum(k) AS nev, CAST(count(*) AS BIGINT) AS nz,
        |    sum(CAST(k AS HUGEINT) * k) AS s2
        |  FROM wc GROUP BY 1),
        |g2 AS (SELECT *, s1 // scale - s0 // scale + 1 AS t
        |  FROM g CROSS JOIN sp)
        |SELECT scale AS scale_s, t AS t_windows,
        |  CAST(nev AS BIGINT) AS n_events, t - nz AS n_zero,
        |  CAST(CAST(nev AS HUGEINT) * 1000000 // t AS BIGINT) AS mean_e6,
        |  CAST((t * s2 - CAST(nev AS HUGEINT) * nev) * 1000000
        |    // (CAST(t AS HUGEINT) * nev) AS BIGINT) AS vmr_e6
        |FROM g2 ORDER BY scale_s""".stripMargin,

    // Entropy-rate replay: user-keyed bigram lag, e9-floored cell
    // terms, conditional and marginal entropies.
    "q_entropy_rate" ->
      """WITH e AS (SELECT user_id, event_id, event_type AS cur,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS prev
        |  FROM events),
        |bi AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS nij
        |  FROM e WHERE prev IS NOT NULL GROUP BY 1, 2),
        |mi AS (SELECT prev, sum(nij) AS ni FROM bi GROUP BY 1),
        |tot AS (SELECT sum(nij) AS nn FROM bi),
        |cells AS (SELECT bi.prev, bi.cur, nij, ni,
        |    CAST(floor((nij / nn)
        |      * ln(CAST(ni AS DOUBLE) / nij) * 1000000000.0 + 0.5)
        |      AS BIGINT) AS term_e9
        |  FROM bi JOIN mi ON bi.prev = mi.prev CROSS JOIN tot),
        |rate AS (SELECT sum(term_e9) AS h_rate_e9 FROM cells),
        |hx AS (SELECT sum(CAST(floor((ni / nn)
        |    * ln(CAST(nn AS DOUBLE) / ni) * 1000000000.0 + 0.5) AS BIGINT))
        |    AS h_marg_e9
        |  FROM mi CROSS JOIN tot)
        |SELECT prev, cur, nij, CAST(ni AS BIGINT) AS ni, term_e9,
        |  CAST(h_rate_e9 AS BIGINT) AS h_rate_e9,
        |  CAST(h_marg_e9 AS BIGINT) AS h_marg_e9
        |FROM cells CROSS JOIN rate CROSS JOIN hx
        |ORDER BY prev, cur""".stripMargin,

    // Segmented-regression replay: cumulative HUGEINT moments over the
    // day spine, the same double SSE closed form left and right.
    "q_seg_regression" -> {
      def sse(n: String, sx: String, sy: String, sxx: String, sxy: String,
          syy: String): String =
        s"""(CAST($syy AS DOUBLE) - CAST($sy AS DOUBLE) * $sy / $n
           | - (CAST($n AS DOUBLE) * $sxy - CAST($sx AS DOUBLE) * $sy)
           |   * (CAST($n AS DOUBLE) * $sxy - CAST($sx AS DOUBLE) * $sy)
           |   / ($n * (CAST($n AS DOUBLE) * $sxx
           |       - CAST($sx AS DOUBLE) * $sx)))""".stripMargin
      s"""WITH daily0 AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
         |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
         |d0 AS (SELECT min(d) AS dmin FROM daily0),
         |daily AS (SELECT d - dmin AS t, x FROM daily0 CROSS JOIN d0),
         |cum AS (SELECT t, x,
         |    CAST(count(*) OVER wo AS BIGINT) AS cn,
         |    sum(t) OVER wo AS csx, sum(x) OVER wo AS csy,
         |    sum(CAST(t AS HUGEINT) * t) OVER wo AS csxx,
         |    sum(CAST(t AS HUGEINT) * x) OVER wo AS csxy,
         |    sum(CAST(x AS HUGEINT) * x) OVER wo AS csyy
         |  FROM daily
         |  WINDOW wo AS (ORDER BY t
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |tot AS (SELECT max(cn) AS n, max(csx) AS tsx, max(csy) AS tsy,
         |    max(csxx) AS tsxx, max(csxy) AS tsxy, max(csyy) AS tsyy
         |  FROM cum),
         |cand AS (SELECT t, cn,
         |    CAST(floor(${sse("cn", "csx", "csy", "csxx", "csxy", "csyy")}
         |      * 1000000.0 + 0.5) AS BIGINT) AS sse_l_e6,
         |    CAST(floor(${sse("(n - cn)", "(tsx - csx)", "(tsy - csy)",
                "(tsxx - csxx)", "(tsxy - csxy)", "(tsyy - csyy)")}
         |      * 1000000.0 + 0.5) AS BIGINT) AS sse_r_e6
         |  FROM cum CROSS JOIN tot
         |  WHERE cn >= 5 AND cn <= n - 5),
         |c2 AS (SELECT *, sse_l_e6 + sse_r_e6 AS sse_e6 FROM cand),
         |b AS (SELECT (min(struct_pack(sse_e6 := sse_e6, t := t))).t
         |    AS best_t FROM c2)
         |SELECT t, cn AS n_left, sse_l_e6, sse_r_e6, sse_e6,
         |  t = best_t AS is_break
         |FROM c2 CROSS JOIN b ORDER BY t""".stripMargin
    },

    // Pearson-residuals replay: margin-cross scaffold, one double
    // residual expression per cell.
    "q_chi2_residuals" ->
      """WITH o AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |rm AS (SELECT lang, sum(o) AS r FROM o GROUP BY 1),
        |cm AS (SELECT source, sum(o) AS c FROM o GROUP BY 1),
        |tot AS (SELECT sum(o) AS nn FROM o),
        |g AS (SELECT rm.lang, cm.source, coalesce(o.o, 0) AS o, rm.r, cm.c,
        |    tot.nn
        |  FROM rm CROSS JOIN cm CROSS JOIN tot
        |  LEFT JOIN o ON o.lang = rm.lang AND o.source = cm.source),
        |res AS (SELECT *, CAST(floor(
        |    (o - CAST(r AS DOUBLE) * c / nn)
        |    / sqrt((CAST(r AS DOUBLE) * c / nn)
        |      * (1.0 - r / nn) * (1.0 - c / nn))
        |    * 1000000.0 + 0.5) AS BIGINT) AS resid_e6
        |  FROM g)
        |SELECT lang, source, o, CAST(r AS BIGINT) AS row_total,
        |  CAST(c AS BIGINT) AS col_total, resid_e6,
        |  abs(resid_e6) > 2000000 AS is_notable
        |FROM res ORDER BY lang, source""".stripMargin,

    // Half-life replay: article x day scaffold with +1 smoothing,
    // e6-floored log responses, HUGEINT OLS slope, ln2 inversion.
    "q_content_halflife" ->
      """WITH av AS (SELECT event_id % 40 + 1 AS article,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |days AS (SELECT DISTINCT d FROM av),
        |d0 AS (SELECT min(d) AS dmin FROM days),
        |arts AS (SELECT DISTINCT article FROM av),
        |grid AS (SELECT a.article, days.d - dmin AS t,
        |    CAST(floor(ln(coalesce(av.cnt, 0) + 1.0) * 1000000.0 + 0.5)
        |      AS BIGINT) AS y
        |  FROM arts a CROSS JOIN days CROSS JOIN d0
        |  LEFT JOIN av ON av.article = a.article AND av.d = days.d),
        |fit AS (SELECT article, CAST(count(*) AS BIGINT) AS n,
        |    sum(t) AS sx, sum(y) AS sy,
        |    sum(CAST(t AS HUGEINT) * t) AS sxx,
        |    sum(CAST(t AS HUGEINT) * y) AS sxy
        |  FROM grid GROUP BY 1),
        |sl AS (SELECT article, n,
        |    CAST((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
        |      // (n * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT)
        |      AS slope_e12
        |  FROM fit)
        |SELECT article, n AS n_days, slope_e12,
        |  slope_e12 < 0 AS is_decaying,
        |  CASE WHEN slope_e12 < 0 THEN
        |    CAST(CAST(693147 AS BIGINT) * 1000000 // (-slope_e12) AS BIGINT)
        |      * 1000000 ELSE 0 END AS halflife_days_e6
        |FROM sl ORDER BY article""".stripMargin,

    // Safety-stock replay: calendar-span zero days, double policy
    // formulas over exact HUGEINT moments, shared constants.
    "q_safety_stock" ->
      """WITH bd AS (SELECT p_brand AS brand,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |sp AS (SELECT CAST(max(CAST(l_shipdate AS DATE) - DATE '1970-01-01')
        |    - min(CAST(l_shipdate AS DATE) - DATE '1970-01-01') + 1 AS BIGINT)
        |    AS t
        |  FROM lineitem),
        |g AS (SELECT brand, CAST(count(*) AS BIGINT) AS n_active,
        |    sum(q) AS qq, sum(CAST(q AS HUGEINT) * q) AS q2
        |  FROM bd GROUP BY 1),
        |g2 AS (SELECT *, CAST(qq AS DOUBLE) / t AS mean,
        |    (CAST(t AS DOUBLE) * q2 - CAST(qq AS DOUBLE) * qq)
        |      / (CAST(t AS DOUBLE) * t) AS variance
        |  FROM g CROSS JOIN sp)
        |SELECT brand, n_active, CAST(qq AS BIGINT) AS total_q,
        |  CAST(floor(mean * 1000000.0 + 0.5) AS BIGINT) AS mean_e6,
        |  CAST(floor(sqrt(variance) * 1000000.0 + 0.5) AS BIGINT) AS sd_e6,
        |  CAST(floor((7.0 * mean + 1.645 * sqrt(7.0 * variance))
        |    * 1000000.0 + 0.5) AS BIGINT) AS rop_e6,
        |  CAST(floor(sqrt(2.0 * (CAST(qq AS DOUBLE) * 365.0 / t)
        |    * 5000.0 / 200.0) * 1000000.0 + 0.5) AS BIGINT) AS eoq_e6
        |FROM g2 ORDER BY brand""".stripMargin,

    // Balance-SMD replay: LPM propensity, exact HUGEINT weighted
    // moments, the same double SMD for unweighted and weighted.
    "q_balance_smd" -> {
      def smd =
        """(CAST(sv_1 AS DOUBLE) / sw_1 - CAST(sv_0 AS DOUBLE) / sw_0)
          |    / sqrt(((CAST(svv_1 AS DOUBLE) / sw_1
          |        - (CAST(sv_1 AS DOUBLE) / sw_1) * (CAST(sv_1 AS DOUBLE) / sw_1))
          |      + (CAST(svv_0 AS DOUBLE) / sw_0
          |        - (CAST(sv_0 AS DOUBLE) / sw_0) * (CAST(sv_0 AS DOUBLE) / sw_0)))
          |      / 2.0)""".stripMargin
      def moments(name: String, w: String) =
        s"""$name AS (SELECT cov,
           |    sum(CASE WHEN d = 1 THEN CAST($w AS HUGEINT) END) AS sw_1,
           |    sum(CASE WHEN d = 1 THEN CAST($w AS HUGEINT) * v END) AS sv_1,
           |    sum(CASE WHEN d = 1 THEN CAST($w AS HUGEINT) * v * v END) AS svv_1,
           |    sum(CASE WHEN d = 0 THEN CAST($w AS HUGEINT) END) AS sw_0,
           |    sum(CASE WHEN d = 0 THEN CAST($w AS HUGEINT) * v END) AS sv_0,
           |    sum(CASE WHEN d = 0 THEN CAST($w AS HUGEINT) * v * v END) AS svv_0
           |  FROM uv GROUP BY cov)"""
      s"""WITH u0 AS (SELECT CAST(count(*) AS BIGINT) AS x1,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS x2,
         |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS x3,
         |    CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      >= 14 THEN 1 ELSE 0 END AS d
         |  FROM events GROUP BY user_id),
         |pm AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x1) AS sx,
         |    sum(CAST(x1 AS HUGEINT) * x1) AS sxx, sum(d) AS sd,
         |    sum(x1 * d) AS sxd FROM u0),
         |co AS (SELECT *, (n * sxd - CAST(sx AS HUGEINT) * sd) * 1000000
         |    // (n * sxx - CAST(sx AS HUGEINT) * sx) AS b_e6 FROM pm),
         |co2 AS (SELECT *,
         |    (CAST(sd AS HUGEINT) * 1000000 - b_e6 * sx) // n AS a_e6
         |  FROM co),
         |uw AS (SELECT u0.*, greatest(50000, least(950000,
         |    CAST(a_e6 + b_e6 * x1 AS BIGINT))) AS e_e6
         |  FROM u0 CROSS JOIN co2),
         |uw2 AS (SELECT *, CASE WHEN d = 1
         |    THEN 1000000000000 // e_e6
         |    ELSE 1000000000000 // (1000000 - e_e6) END AS w_e6
         |  FROM uw),
         |uv AS (SELECT d, w_e6, 'n_events' AS cov, x1 AS v FROM uw2
         |  UNION ALL SELECT d, w_e6, 'n_purchases', x2 FROM uw2
         |  UNION ALL SELECT d, w_e6, 'n_views', x3 FROM uw2),
         |${moments("mu", "1000000")},
         |${moments("mw", "w_e6")},
         |r AS (SELECT mu.cov,
         |    CAST(floor(($smd) * 1000000.0 + 0.5) AS BIGINT) AS smd_unw_e6
         |  FROM mu),
         |r2 AS (SELECT mw.cov,
         |    CAST(floor(($smd) * 1000000.0 + 0.5) AS BIGINT) AS smd_w_e6
         |  FROM mw)
         |SELECT r.cov, smd_unw_e6, smd_w_e6,
         |  abs(smd_w_e6) < 100000 AS balanced_after
         |FROM r JOIN r2 ON r.cov = r2.cov ORDER BY r.cov""".stripMargin
    },

    // Geometric-median replay: centroid + three unrolled Weiszfeld
    // iterations with e6/e12-floored per-user terms, e2 costs.
    "q_geomedian" -> {
      def step(prev: String, name: String) =
        s"""$name AS (SELECT
           |    CAST(sum(CAST(floor(x / dd * 1000000.0 + 0.5) AS HUGEINT))
           |      * 1000000000000
           |      // sum(CAST(floor(1.0e12 / dd + 0.5) AS HUGEINT))
           |      AS BIGINT) AS mx_e6,
           |    CAST(sum(CAST(floor(y / dd * 1000000.0 + 0.5) AS HUGEINT))
           |      * 1000000000000
           |      // sum(CAST(floor(1.0e12 / dd + 0.5) AS HUGEINT))
           |      AS BIGINT) AS my_e6
           |  FROM (SELECT x, y, sqrt((x - mx_e6 / 1.0e6) * (x - mx_e6 / 1.0e6)
           |      + (y - my_e6 / 1.0e6) * (y - my_e6 / 1.0e6)) AS dd
           |    FROM u CROSS JOIN $prev) z WHERE dd > 0.0)"""
      def cost(m: String, name: String) =
        s"""$name AS (SELECT CAST(sum(CAST(floor(sqrt(
           |    (x - mx_e6 / 1.0e6) * (x - mx_e6 / 1.0e6)
           |    + (y - my_e6 / 1.0e6) * (y - my_e6 / 1.0e6)) * 100.0 + 0.5)
           |    AS BIGINT)) AS BIGINT) AS cost_e2
           |  FROM u CROSS JOIN $m)"""
      s"""WITH u AS (SELECT CAST(count(*) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |      THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS y
         |  FROM events GROUP BY user_id),
         |m0 AS (SELECT CAST(sum(x) * 1000000 // count(*) AS BIGINT) AS mx_e6,
         |    CAST(sum(CAST(y AS HUGEINT)) * 1000000 // count(*) AS BIGINT)
         |      AS my_e6
         |  FROM u),
         |${step("m0", "m1")},
         |${step("m1", "m2")},
         |${step("m2", "m3")},
         |${cost("m0", "c0")},
         |${cost("m1", "c1")},
         |${cost("m2", "c2")},
         |${cost("m3", "c3")}
         |SELECT CAST(0 AS BIGINT) AS it, mx_e6, my_e6, cost_e2
         |  FROM m0 CROSS JOIN c0
         |UNION ALL SELECT 1, mx_e6, my_e6, cost_e2 FROM m1 CROSS JOIN c1
         |UNION ALL SELECT 2, mx_e6, my_e6, cost_e2 FROM m2 CROSS JOIN c2
         |UNION ALL SELECT 3, mx_e6, my_e6, cost_e2 FROM m3 CROSS JOIN c3
         |ORDER BY it""".stripMargin
    },

    // Shared scorer for the eval triple: even-doc source rates scoring
    // the odd half.
    // PR-AUC replay: desc score-support walk, truncating precisions,
    // pos-weighted AP.
    "q_pr_auc" ->
      """WITH d AS (SELECT doc_id, source,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    list_reduce(list_transform(range(12), i -> CAST(strpos('0123456789abcdef', substr(md5(concat('evalsplit:', doc_id)), i + 1, 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 2 AS half
        |  FROM documents),
        |rate AS (SELECT source,
        |    CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS p_e6
        |  FROM d WHERE half = 0 GROUP BY 1),
        |s AS (SELECT d.source, CAST(y AS BIGINT) AS y, p_e6
        |  FROM d JOIN rate ON d.source = rate.source WHERE half = 1),
        |sup AS (SELECT p_e6, CAST(count(*) AS BIGINT) AS ct,
        |    CAST(sum(y) AS BIGINT) AS pos FROM s GROUP BY 1),
        |walk AS (SELECT *,
        |    sum(pos) OVER (ORDER BY p_e6 DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
        |    sum(ct) OVER (ORDER BY p_e6 DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
        |  FROM sup),
        |w2 AS (SELECT *, CAST(cum_tp * 1000000 // cum_n AS BIGINT)
        |    AS prec_e6 FROM walk),
        |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(sum(CAST(pos AS HUGEINT) * prec_e6) // sum(pos) AS BIGINT)
        |      AS ap_e6
        |  FROM w2)
        |SELECT p_e6, ct, pos, CAST(cum_tp AS BIGINT) AS cum_tp,
        |  CAST(cum_n AS BIGINT) AS cum_n, prec_e6, n_pos, ap_e6
        |FROM w2 CROSS JOIN tot ORDER BY p_e6 DESC""".stripMargin,

    // Decision-curve replay: threshold grid confusion counts, exact
    // net-benefit terms, treat-all baseline.
    "q_decision_curve" ->
      """WITH d AS (SELECT doc_id, source,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    list_reduce(list_transform(range(12), i -> CAST(strpos('0123456789abcdef', substr(md5(concat('evalsplit:', doc_id)), i + 1, 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 2 AS half
        |  FROM documents),
        |rate AS (SELECT source,
        |    CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS p_e6
        |  FROM d WHERE half = 0 GROUP BY 1),
        |s AS (SELECT CAST(y AS BIGINT) AS y, p_e6
        |  FROM d JOIN rate ON d.source = rate.source WHERE half = 1),
        |grid AS (SELECT CAST(unnest([10, 20, 30, 40, 50]) AS BIGINT) AS t),
        |conf AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN p_e6 >= t * 10000 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN p_e6 >= t * 10000 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp
        |  FROM s CROSS JOIN grid GROUP BY t),
        |nb AS (SELECT *,
        |    tp * 1000000 // n - fp * 1000000 * t // ((100 - t) * n)
        |      AS nb_model_e6,
        |    n_pos * 1000000 // n
        |      - (n - n_pos) * 1000000 * t // ((100 - t) * n) AS nb_all_e6
        |  FROM conf)
        |SELECT t AS threshold_pct, n, tp, fp,
        |  CAST(nb_model_e6 AS BIGINT) AS nb_model_e6,
        |  CAST(nb_all_e6 AS BIGINT) AS nb_all_e6,
        |  CAST(0 AS BIGINT) AS nb_none_e6,
        |  nb_model_e6 >= nb_all_e6 AND nb_model_e6 >= 0 AS model_wins
        |FROM nb ORDER BY threshold_pct""".stripMargin,

    // Hosmer-Lemeshow replay: per-source observed vs expected, double
    // chi contributions e6-floored, degenerate p in {0,1} zeroed.
    "q_hosmer_lemeshow" ->
      """WITH d AS (SELECT doc_id, source,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    list_reduce(list_transform(range(12), i -> CAST(strpos('0123456789abcdef', substr(md5(concat('evalsplit:', doc_id)), i + 1, 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 2 AS half
        |  FROM documents),
        |rate AS (SELECT source,
        |    CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS p_e6
        |  FROM d WHERE half = 0 GROUP BY 1),
        |s AS (SELECT d.source, CAST(y AS BIGINT) AS y, p_e6
        |  FROM d JOIN rate ON d.source = rate.source WHERE half = 1),
        |g AS (SELECT source, p_e6, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(y) AS BIGINT) AS o FROM s GROUP BY 1, 2),
        |g2 AS (SELECT *, n_g * p_e6 AS e_e6,
        |    CASE WHEN p_e6 > 0 AND p_e6 < 1000000 THEN
        |      CAST(floor((o - n_g * p_e6 / 1.0e6) * (o - n_g * p_e6 / 1.0e6)
        |        / ((n_g * p_e6 / 1.0e6) * (1.0 - p_e6 / 1.0e6))
        |        * 1000000.0 + 0.5) AS BIGINT)
        |    ELSE 0 END AS chi_e6
        |  FROM g),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(chi_e6) AS BIGINT) AS hl_chi2_e6 FROM g2)
        |SELECT source, n_g, o, e_e6 // 1000000 AS expected, chi_e6,
        |  n_groups, hl_chi2_e6
        |FROM g2 CROSS JOIN tot ORDER BY source""".stripMargin,

    // Copeland replay: the kendall_w rank scaffold, majority verdicts
    // over 40x40 contests, wins - losses.
    "q_copeland" ->
      s"""WITH $raterRankCtes,
        |m AS (SELECT CAST(count(DISTINCT rater) AS BIGINT) AS m FROM rk),
        |con AS (SELECT x.article AS a, y.article AS b,
        |    CAST(sum(CASE WHEN x.rnk < y.rnk THEN 1 ELSE 0 END) AS BIGINT)
        |      AS wins_ab
        |  FROM rk x JOIN rk y ON x.rater = y.rater
        |  WHERE x.article <> y.article GROUP BY 1, 2),
        |v AS (SELECT a, b, CASE WHEN wins_ab * 2 > m THEN 1
        |    WHEN wins_ab * 2 < m THEN -1 ELSE 0 END AS v
        |  FROM con CROSS JOIN m)
        |SELECT a AS article,
        |  CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS wins,
        |  CAST(sum(CASE WHEN v = -1 THEN 1 ELSE 0 END) AS BIGINT) AS losses,
        |  CAST(sum(v) AS BIGINT) AS copeland
        |FROM v GROUP BY a ORDER BY copeland DESC, article""".stripMargin,

    // VIF replay: one HUGEINT moment pass, the same double correlation
    // and two-predictor R2 closed forms.
    "q_vif" -> {
      def corr(sa: String, sb: String, sab: String, saa: String,
          sbb: String): String =
        s"""((CAST(n AS DOUBLE) * $sab - CAST($sa AS DOUBLE) * $sb)
           | / sqrt((CAST(n AS DOUBLE) * $saa - CAST($sa AS DOUBLE) * $sa)
           |   * (CAST(n AS DOUBLE) * $sbb - CAST($sb AS DOUBLE) * $sb)))"""
          .stripMargin
      val r12 = corr("s1", "s2", "s12", "s11", "s22")
      val r13 = corr("s1", "s3", "s13", "s11", "s33")
      val r23 = corr("s2", "s3", "s23", "s22", "s33")
      def vif(ra: String, rb: String, rab: String): String =
        s"""(1.0 / (1.0 - ($ra * $ra + $rb * $rb
           | - 2.0 * $ra * $rb * $rab) / (1.0 - $rab * $rab)))""".stripMargin
      s"""WITH u AS (SELECT CAST(count(*) AS BIGINT) AS x1,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS x2,
         |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS x3
         |  FROM events GROUP BY user_id),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    sum(x1) AS s1, sum(x2) AS s2, sum(x3) AS s3,
         |    sum(CAST(x1 AS HUGEINT) * x1) AS s11,
         |    sum(CAST(x2 AS HUGEINT) * x2) AS s22,
         |    sum(CAST(x3 AS HUGEINT) * x3) AS s33,
         |    sum(CAST(x1 AS HUGEINT) * x2) AS s12,
         |    sum(CAST(x1 AS HUGEINT) * x3) AS s13,
         |    sum(CAST(x2 AS HUGEINT) * x3) AS s23
         |  FROM u),
         |r AS (SELECT
         |    CAST(floor($r12 * 1000000.0 + 0.5) AS BIGINT) AS r12_e6,
         |    CAST(floor($r13 * 1000000.0 + 0.5) AS BIGINT) AS r13_e6,
         |    CAST(floor($r23 * 1000000.0 + 0.5) AS BIGINT) AS r23_e6,
         |    CAST(floor(${vif(r12, r13, r23)} * 1000000.0 + 0.5) AS BIGINT)
         |      AS vif1_e6,
         |    CAST(floor(${vif(r12, r23, r13)} * 1000000.0 + 0.5) AS BIGINT)
         |      AS vif2_e6,
         |    CAST(floor(${vif(r13, r23, r12)} * 1000000.0 + 0.5) AS BIGINT)
         |      AS vif3_e6
         |  FROM m),
         |s AS (SELECT 'n_events' AS covariate, vif1_e6 AS vif_e6,
         |    r12_e6, r13_e6, r23_e6 FROM r
         |  UNION ALL SELECT 'n_purchases', vif2_e6, r12_e6, r13_e6, r23_e6
         |    FROM r
         |  UNION ALL SELECT 'n_views', vif3_e6, r12_e6, r13_e6, r23_e6 FROM r)
         |SELECT covariate, vif_e6, r12_e6, r13_e6, r23_e6,
         |  vif_e6 > 5000000 AS is_collinear
         |FROM s ORDER BY covariate""".stripMargin
    },

    // Weibull replay: uncensored duration support, median ranks,
    // e6-floored double-log responses, HUGEINT OLS, exp scale.
    "q_weibull" ->
      """WITH sup AS (SELECT
        |    CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
        |      AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS ct
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) >= 1
        |  GROUP BY 1),
        |n AS (SELECT sum(ct) AS n FROM sup),
        |pts AS (SELECT t, ct,
        |    sum(ct) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    n,
        |    CAST(floor(ln(CAST(t AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
        |      AS x,
        |    CAST(floor(ln(-ln(1.0 - (sum(ct) OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 0.3)
        |      / (n + 0.4))) * 1000000.0 + 0.5) AS BIGINT) AS y
        |  FROM sup CROSS JOIN n),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS np, sum(x) AS sx,
        |    sum(y) AS sy, sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy FROM pts),
        |f AS (SELECT np,
        |    CAST((np * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
        |      // (np * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT)
        |      AS shape_e6, sx, sy FROM m),
        |f2 AS (SELECT np, shape_e6,
        |    CAST(floor(exp((CAST(sx AS DOUBLE) / np
        |      - (CAST(sy AS DOUBLE) / np)
        |        / (CAST(shape_e6 AS DOUBLE) / 1.0e6)) / 1.0e6)
        |      * 1000000.0 + 0.5) AS BIGINT) AS scale_days_e6
        |  FROM f)
        |SELECT t, ct, CAST(cum AS BIGINT) AS cum, f2.np, shape_e6,
        |  scale_days_e6
        |FROM pts CROSS JOIN f2 ORDER BY t""".stripMargin,
  )
}
