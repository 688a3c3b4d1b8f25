package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * One `queries` entry per SURVEY §2 operator; `oracleSql` carries the
  * DuckDB twin (omitted for non-SQL-expressible ops).
  */
object SparkEntry {
  /** Flagship query (TPC-H Q1 shape, SURVEY §7.2) on sf0.001;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.qAggGroup(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 scans / sources / sinks
    "q_scan_project" -> Relational.qScanProject _,
    "q_scan_count" -> Relational.qScanCount _,
    "q_source_orc" -> graft.sources.FileFormats.qSourceOrc _,
    "q_source_csv" -> graft.sources.FileFormats.qSourceCsv _,
    "q_source_json" -> graft.sources.FileFormats.qSourceJson _,
    "q_sink_partitioned" -> graft.sources.FileFormats.qSinkPartitioned _,
    "q_source_partitioned" -> graft.sources.FileFormats.qSourcePartitioned _,
    "q_join_bucketed" -> graft.sources.FileFormats.qJoinBucketed _,
    "q_join_spj" -> graft.sources.FileFormats.qJoinSpj _,
    "q_parquet_bloom" -> graft.sources.FileFormats.qParquetBloom _,
    "q_agg_pushdown" -> graft.sources.FileFormats.qAggPushdown _,
    "q_source_binary" -> graft.sources.FileFormats.qSourceBinary _,
    "q_source_xml" -> graft.sources.FileFormats.qSourceXml _,
    "q_source_text" -> graft.sources.FileFormats.qSourceText _,
    "q_schema_evolution" -> graft.sources.FileFormats.qSchemaEvolution _,
    // §2.2 filters / predicates
    "q_filter_pred" -> Relational.qFilterPred _,
    "q_filter_in_like" -> Relational.qFilterInLike _,
    "q_case_expr" -> Relational.qCaseExpr _,
    // §2.3 joins
    "q_join_inner" -> Relational.qJoinInner _,
    "q_join_broadcast" -> Relational.qJoinBroadcast _,
    "q_join_left" -> Relational.qJoinLeft _,
    "q_join_full" -> Relational.qJoinFull _,
    "q_join_semi" -> Relational.qJoinSemi _,
    "q_join_anti" -> Relational.qJoinAnti _,
    "q_join_multiway" -> Relational.qJoinMultiway _,
    "q_join_theta" -> Relational.qJoinTheta _,
    "q_join_salted" -> Advanced.qJoinSalted _,
    "q_join_range" -> Advanced.qJoinRange _,
    // §2.15 subqueries / recursive CTE / sampling / funnel
    "q_subquery_exists" -> Advanced.qSubqueryExists _,
    "q_subquery_scalar" -> Advanced.qSubqueryScalar _,
    "q_cte_recursive" -> Advanced.qCteRecursive _,
    "q_null_funcs" -> Advanced.qNullFuncs _,
    "q_lateral_topk" -> Advanced.qLateralTopk _,
    "q_sample_det" -> Advanced.qSampleDet _,
    "q_funnel" -> Advanced.qFunnel _,
    // §2.4 aggregations
    "q_agg_global" -> Relational.qAggGlobal _,
    "q_agg_group" -> Relational.qAggGroup _,
    "q_agg_having" -> Relational.qAggHaving _,
    "q_agg_distinct" -> Relational.qAggDistinct _,
    "q_agg_rollup" -> Relational.qAggRollup _,
    "q_grouping_id" -> Relational.qGroupingId _,
    "q_agg_cube" -> Relational.qAggCube _,
    "q_agg_grouping_sets" -> Relational.qAggGroupingSets _,
    "q_approx_distinct" -> Relational.qApproxDistinct _,
    "q_hll_custom" -> Relational.qHllCustom _,
    "q_pivot" -> Relational.qPivot _,
    "q_percentile" -> Relational.qPercentile _,
    "q_approx_percentile" -> Relational.qApproxPercentile _,
    "q_stats" -> Relational.qStats _,
    "q_agg_argmax" -> Relational.qAggArgmax _,
    "q_histogram" -> Relational.qHistogram _,
    "q_unpivot" -> Relational.qUnpivot _,
    "q_upsert" -> Relational.qUpsert _,
    "q_string_agg" -> Relational.qStringAgg _,
    "q_join_asof" -> Windows.qJoinAsof _,
    "q_join_time_window" -> Windows.qJoinTimeWindow _,
    "q_events_retention" -> Windows.qEventsRetention _,
    // §2.5 window functions
    "q_window_rank" -> Windows.qWindowRank _,
    "q_window_topk_per_group" -> Windows.qWindowTopkPerGroup _,
    "q_window_running" -> Windows.qWindowRunning _,
    "q_window_lag" -> Windows.qWindowLag _,
    "q_window_range_frame" -> Windows.qWindowRangeFrame _,
    "q_window_ntile" -> Windows.qWindowNtile _,
    "q_window_percent_rank" -> Windows.qWindowPercentRank _,
    "q_window_first_last" -> Windows.qWindowFirstLast _,
    // §2.6 sorts / top-k
    "q_orderby_limit" -> Relational.qOrderbyLimit _,
    "q_sort_multi" -> Relational.qSortMulti _,
    // §2.7 set operations
    "q_union_all" -> Relational.qUnionAll _,
    "q_union_distinct" -> Relational.qUnionDistinct _,
    "q_union_by_name" -> Relational.qUnionByName _,
    "q_intersect" -> Relational.qIntersect _,
    "q_except" -> Relational.qExcept _,
    "q_distinct" -> Relational.qDistinct _,
    // §2.8 scalar functions
    "q_string_funcs" -> Scalars.qStringFuncs _,
    "q_fuzzy_match" -> Scalars.qFuzzyMatch _,
    "q_date_funcs" -> Scalars.qDateFuncs _,
    "q_math_funcs" -> Scalars.qMathFuncs _,
    "q_json_funcs" -> Scalars.qJsonFuncs _,
    "q_array_funcs" -> Scalars.qArrayFuncs _,
    "q_explode" -> Scalars.qExplode _,
    "q_map_funcs" -> Scalars.qMapFuncs _,
    "q_hof_funcs" -> Scalars.qHofFuncs _,
    "q_calendar_spine" -> Scalars.qCalendarSpine _,
    "q_struct_funcs" -> Scalars.qStructFuncs _,
    // §2.9 event-time (batch semantics)
    "q_events_tumbling" -> Windows.qEventsTumbling _,
    "q_events_sliding" -> Windows.qEventsSliding _,
    "q_events_session" -> Windows.qEventsSession _,
    "q_events_late_dedup" -> Windows.qEventsLateDedup _,
    // §2.10 text analysis
    "q_wordcount" -> Text.qWordcount _,
    "q_doc_freq" -> Text.qDocFreq _,
    "q_tfidf" -> Text.qTfidf _,
    "q_tfidf_cosine" -> Text.qTfidfCosine _,
    "q_ngrams" -> Text.qNgrams _,
    "q_text_stats" -> Text.qTextStats _,
    "q_token_entropy" -> Text.qTokenEntropy _,
    "q_stopword_stem" -> Text.qStopwordStem _,
    "q_chunk_docs" -> Text.qChunkDocs _,
    // §2.11 dedup
    "q_dedup_exact" -> Text.qDedupExact _,
    "q_dedup_keep_first" -> Text.qDedupKeepFirst _,
    "q_dedup_near" -> Text.qDedupNear _,
    "q_dedup_ngram" -> Text.qDedupNgram _,
    "q_dedup_embedding" -> Vectors.qDedupEmbedding _,
    "q_dedup_clusters" -> Text.qDedupClusters _,
    // §2.12 similarity search
    "q_knn_cosine" -> Vectors.qKnnCosine _,
    "q_vector_centroid" -> Vectors.qVectorCentroid _,
    "q_vector_norm_filter" -> Vectors.qVectorNormFilter _,
    "q_vector_quantize" -> Vectors.qVectorQuantize _,
    "q_ann_ivf" -> Vectors.qAnnIvf _,
    // §2.14 LLM-pipeline extensions: scoring / counting / fingerprints
    "q_lang_score" -> Pipeline.qLangScore _,
    "q_quality_score" -> Pipeline.qQualityScore _,
    "q_token_count" -> Pipeline.qTokenCount _,
    "q_fingerprint" -> Pipeline.qFingerprint _,
    "q_mix_sources" -> Pipeline.qMixSources _,
    // §2.14 sketches (rows-only: Spark-hash-dependent, no SQL oracle)
    "q_dedup_minhash" -> Sketches.qDedupMinhash _,
    "q_dedup_minhash_agg" -> Sketches.qDedupMinhashAgg _,
    "q_dedup_simhash" -> Sketches.qDedupSimhash _,
    "q_ann_lsh" -> Sketches.qAnnLsh _,
    // §2.17 round-4 extensions
    "q_bm25" -> Text.qBm25 _,
    "q_repetition_ratio" -> Text.qRepetitionRatio _,
    "q_graph_degree" -> Text.qGraphDegree _,
    "q_pack_chunks" -> Text.qPackChunks _,
    "q_sample_stratified" -> Pipeline.qSampleStratified _,
    "q_vector_pq" -> Vectors.qVectorPq _,
    "q_events_anomaly" -> Windows.qEventsAnomaly _,
    // §2.17 round-5 extensions
    "q_contamination" -> Text.qContamination _,
    "q_ngram_lm" -> Text.qNgramLm _,
    "q_cooccur_pmi" -> Text.qCooccurPmi _,
    "q_kmeans_iter" -> Vectors.qKmeansIter _,
    "q_anomaly_mad" -> Windows.qAnomalyMad _,
    "q_corr_matrix" -> Relational.qCorrMatrix _,
    "q_skyline" -> Relational.qSkyline _,
    "q_islands" -> Windows.qIslands _,
    "q_gini" -> Advanced.qGini _,
    "q_autocorr" -> Windows.qAutocorr _,
    "q_markov" -> Windows.qMarkov _,
    "q_heavy_hitters" -> Sketches.qHeavyHitters _,
    "q_topk_custom" -> Advanced.qTopkCustom _,
    "q_matmul" -> Advanced.qMatmul _,
    // §2.19 composite TPC-H report twins
    "q_tpch_q3" -> Reports.qTpchQ3 _,
    "q_tpch_q5" -> Reports.qTpchQ5 _,
    "q_tpch_q10" -> Reports.qTpchQ10 _,
    "q_split_manifest" -> Pipeline.qSplitManifest _,
    "q_pagerank" -> Advanced.qPagerank _,
    // §2.20 round-6 curation / warehouse extensions
    "q_pii_redact" -> Curation.qPiiRedact _,
    "q_url_extract" -> Curation.qUrlExtract _,
    "q_text_normalize" -> Curation.qTextNormalize _,
    "q_sample_reservoir" -> Curation.qSampleReservoir _,
    "q_jaccard_prefix" -> Curation.qJaccardPrefix _,
    "q_triangle_count" -> Curation.qTriangleCount _,
    "q_zorder" -> Warehouse.qZorder _,
    "q_scd2" -> Warehouse.qScd2 _,
    "q_cdc_diff" -> Warehouse.qCdcDiff _,
    "q_gap_fill" -> Warehouse.qGapFill _,
    "q_winsorize" -> Warehouse.qWinsorize _,
    "q_attribution" -> Warehouse.qAttribution _,
    "q_random_projection" -> Vectors.qRandomProjection _,
    "q_bloom_join" -> Integrity.qBloomJoin _,
    "q_doc_perplexity" -> Pipeline.qDocPerplexity _,
    "q_table_checksum" -> Integrity.qTableChecksum _,
    "q_entity_match" -> Curation.qEntityMatch _,
    "q_brand_affinity" -> Warehouse.qBrandAffinity _,
    // §2.21 round-7 quality / analytics extensions
    "q_code_detect" -> Quality.qCodeDetect _,
    "q_filter_cascade" -> Quality.qFilterCascade _,
    "q_shingle_novelty" -> Quality.qShingleNovelty _,
    "q_dup_ratio" -> Quality.qDupRatio _,
    "q_url_canonical" -> Quality.qUrlCanonical _,
    "q_ohlc" -> Warehouse.qOhlc _,
    "q_rank_corr" -> Warehouse.qRankCorr _,
    "q_cluster_cohesion" -> Vectors.qClusterCohesion _,
    // §2.22 round-7 corpus-construction / operational analytics
    "q_line_dedup" -> Corpus.qLineDedup _,
    "q_bpe_pairs" -> Corpus.qBpePairs _,
    "q_inverted_index" -> Corpus.qInvertedIndex _,
    "q_token_budget" -> Corpus.qTokenBudget _,
    "q_compaction_plan" -> Analytics.qCompactionPlan _,
    "q_interarrival" -> Analytics.qInterarrival _,
    "q_hist2d" -> Analytics.qHist2d _,
    "q_abtest" -> Analytics.qAbtest _,
    "q_dq_audit" -> Analytics.qDqAudit _,
    "q_trend_slope" -> Analytics.qTrendSlope _,
    "q_cohort" -> Analytics.qCohort _,
    "q_skew_audit" -> Analytics.qSkewAudit _,
    "q_kanon" -> Analytics.qKanon _,
    "q_drift" -> Analytics.qDrift _,
    // §2.23 round-7 feature-engineering / reporting
    "q_vocab_coverage" -> Features.qVocabCoverage _,
    "q_rolling_median" -> Features.qRollingMedian _,
    "q_decile_lift" -> Features.qDecileLift _,
    "q_hist_equiheight" -> Features.qHistEquiheight _,
    "q_rolling_distinct" -> Features.qRollingDistinct _,
    "q_weighted_sample" -> Features.qWeightedSample _,
    "q_quantile_norm" -> Features.qQuantileNorm _,
    "q_tpch_q18" -> Reports.qTpchQ18 _,
    // §2.24 round-7 report twins + behavioral analytics
    "q_tpch_q7" -> Reports.qTpchQ7 _,
    "q_tpch_q14" -> Reports.qTpchQ14 _,
    "q_tpch_q22" -> Reports.qTpchQ22 _,
    "q_seq_pairs" -> Analytics.qSeqPairs _,
    "q_path_trigrams" -> Analytics.qPathTrigrams _,
    "q_rfm" -> Analytics.qRfm _,
    // §2.25 round-7 TPC-H suite completion (expressible subset)
    "q_tpch_q8" -> Reports.qTpchQ8 _,
    "q_tpch_q9" -> Reports.qTpchQ9 _,
    "q_tpch_q13" -> Reports.qTpchQ13 _,
    "q_tpch_q15" -> Reports.qTpchQ15 _,
    "q_tpch_q16" -> Reports.qTpchQ16 _,
    "q_tpch_q17" -> Reports.qTpchQ17 _,
    // §2.26 round-7 ML-adjacent extensions
    "q_feature_hash" -> Learning.qFeatureHash _,
    "q_target_encode" -> Learning.qTargetEncode _,
    "q_chisq" -> Learning.qChisq _,
    "q_ewma" -> Learning.qEwma _,
    "q_cusum" -> Learning.qCusum _,
    "q_graph_bfs" -> Learning.qGraphBfs _,
    "q_ship_latency" -> Learning.qShipLatency _,
    "q_incremental_agg" -> Learning.qIncrementalAgg _,
    // §2.27 round-7 storage/BI/audit staples
    "q_zone_map" -> Insights.qZoneMap _,
    "q_sim_histogram" -> Insights.qSimHistogram _,
    "q_cv_folds" -> Insights.qCvFolds _,
    "q_ctr_wilson" -> Insights.qCtrWilson _,
    "q_pareto" -> Insights.qPareto _,
    "q_benford" -> Insights.qBenford _,
    "q_seasonality" -> Insights.qSeasonality _,
    // §2.29 round-7 BI staples
    "q_share_of_parent" -> Insights.qShareOfParent _,
    "q_moving_extrema" -> Insights.qMovingExtrema _,
    "q_percent_change" -> Insights.qPercentChange _,
    // §2.28 round-7 text/growth staples
    "q_containment" -> Text.qContainment _,
    "q_window_cooccur" -> Text.qWindowCooccur _,
    "q_growth_accounting" -> Analytics.qGrowthAccounting _,
    // §2.32 round-8 warehouse-audit / stream-audit / tokenizer extensions
    "q_fk_orphans" -> Integrity.qFkOrphans _,
    "q_late_events" -> Journeys.qLateEvents _,
    "q_conversion_lag" -> Journeys.qConversionLag _,
    "q_prefix_compress" -> Warehouse.qPrefixCompress _,
    "q_bpe_apply" -> Linguistics.qBpeApply _,
    // §2.31 round-8 linguistics / BI / spectral extensions
    "q_mode" -> Relational.qMode _,
    "q_allocation" -> Analytics.qAllocation _,
    "q_readability" -> Linguistics.qReadability _,
    "q_concordance" -> Linguistics.qConcordance _,
    "q_naive_bayes" -> Linguistics.qNaiveBayes _,
    "q_power_iter" -> Vectors.qPowerIter _,
    // §2.30 round-8 graph analytics
    "q_clustering_coeff" -> Graphs.qClusteringCoeff _,
    "q_graph_jaccard" -> Graphs.qGraphJaccard _,
    "q_graph_2hop" -> Graphs.qGraph2hop _,
    // §2.30 round-8 user-journey/temporal extensions
    "q_seq_match" -> Journeys.qSeqMatch _,
    "q_interval_overlap" -> Journeys.qIntervalOverlap _,
    "q_time_weighted_avg" -> Journeys.qTimeWeightedAvg _,
    // §2.33 round-8 retrieval / model-eval metrics
    "q_ann_recall" -> Evaluation.qAnnRecall _,
    "q_ndcg" -> Evaluation.qNdcg _,
    "q_auc" -> Evaluation.qAuc _,
    "q_confusion" -> Evaluation.qConfusion _,
    "q_calibration" -> Evaluation.qCalibration _,
    "q_mrr" -> Evaluation.qMrr _,
    // §2.34 round-8 corpus statistics / data-mixing
    "q_collocation_llr" -> CorpusStats.qCollocationLlr _,
    "q_zipf" -> CorpusStats.qZipf _,
    "q_keyword_rake" -> CorpusStats.qKeywordRake _,
    "q_dsir" -> CorpusStats.qDsir _,
    "q_lsh_recall" -> CorpusStats.qLshRecall _,
    "q_burstiness" -> CorpusStats.qBurstiness _,
    // §2.35 round-8 experimentation / measurement statistics
    "q_ks_test" -> Experiments.qKsTest _,
    "q_mannwhitney" -> Experiments.qMannwhitney _,
    "q_bootstrap_ci" -> Experiments.qBootstrapCi _,
    "q_ate_stratified" -> Experiments.qAteStratified _,
    "q_eb_shrinkage" -> Experiments.qEbShrinkage _,
    "q_sax_symbols" -> Experiments.qSaxSymbols _,
    // §2.36 round-8 graph communities / curation / contrastive sampling
    "q_label_prop" -> Graphs.qLabelProp _,
    "q_kcore" -> Graphs.qKcore _,
    "q_boilerplate" -> Corpus.qBoilerplate _,
    "q_hard_negatives" -> Vectors.qHardNegatives _,
    // §2.37 round-8 survival / tail / corpus-growth / lang audit
    "q_survival" -> Experiments.qSurvival _,
    "q_hill_tail" -> Experiments.qHillTail _,
    "q_heaps_law" -> CorpusStats.qHeapsLaw _,
    "q_lang_confusion" -> CorpusStats.qLangConfusion _,
    // §2.38 round-8 weighted/robust BI + leakage audit
    "q_weighted_median" -> Warehouse.qWeightedMedian _,
    "q_theil_index" -> Insights.qTheilIndex _,
    "q_price_elasticity" -> Insights.qPriceElasticity _,
    "q_source_overlap" -> Corpus.qSourceOverlap _,
    // §2.39 round-8 backtest / vector audit / mix divergence / cards
    "q_forecast_backtest" -> Insights.qForecastBacktest _,
    "q_embedding_outliers" -> Vectors.qEmbeddingOutliers _,
    "q_kl_sources" -> CorpusStats.qKlSources _,
    "q_dataset_card" -> Corpus.qDatasetCard _,
    // §2.40 round-8 causal measurement
    "q_cuped" -> Causal.qCuped _,
    "q_did" -> Causal.qDid _,
    "q_srm" -> Causal.qSrm _,
    "q_cramers_v" -> Causal.qCramersV _,
    // §2.41 round-8 privacy / memorization audits
    "q_ldiversity" -> Curation.qLdiversity _,
    "q_dup_spans" -> Curation.qDupSpans _,
    // §2.42 round-8 graph structure metrics
    "q_graph_modularity" -> Graphs.qGraphModularity _,
    "q_assortativity" -> Graphs.qAssortativity _,
    "q_rich_club" -> Graphs.qRichClub _,
    // §2.43 round-8 time-series diagnostics
    "q_changepoint" -> Insights.qChangepoint _,
    "q_drawdown" -> Insights.qDrawdown _,
    "q_seasonal_strength" -> Insights.qSeasonalStrength _,
    // §2.44 round-8 ranking-quality metrics
    "q_map_at_k" -> Evaluation.qMapAtK _,
    "q_precision_at_k" -> Evaluation.qPrecisionAtK _,
    // §2.45 round-8 set-op / aggregate / window dialect completeness
    "q_except_all" -> Relational.qExceptAll _,
    "q_intersect_all" -> Relational.qIntersectAll _,
    "q_agg_bools" -> Relational.qAggBools _,
    "q_window_locf" -> Windows.qWindowLocf _,
    // §2.46 round-8 storage-encoding audits
    "q_rle_audit" -> Warehouse.qRleAudit _,
    "q_dict_audit" -> Warehouse.qDictAudit _,
    // §2.47 round-8 pivot / as-of / percentile dialect
    "q_pivot_multi" -> Relational.qPivotMulti _,
    "q_percentile_disc" -> Relational.qPercentileDisc _,
    "q_asof_tolerance" -> Windows.qAsofTolerance _,
    // §2.48 round-8 curation funnels / predictability
    "q_filter_funnel" -> CorpusStats.qFilterFunnel _,
    "q_dedup_cascade" -> CorpusStats.qDedupCascade _,
    "q_bigram_entropy" -> CorpusStats.qBigramEntropy _,
    // §2.49 round-8 remaining expressible TPC-H twins
    "q_tpch_q1" -> Reports.qTpchQ1 _,
    "q_tpch_q4" -> Reports.qTpchQ4 _,
    "q_tpch_q6" -> Reports.qTpchQ6 _,
    "q_tpch_q19" -> Reports.qTpchQ19 _,
    // §2.50 round-8 engagement analytics
    "q_type_affinity" -> Engagement.qTypeAffinity _,
    "q_active_days" -> Engagement.qActiveDays _,
    "q_stickiness" -> Engagement.qStickiness _,
    // §2.51 round-8 BI decomposition
    "q_qq_deciles" -> Insights.qQqDeciles _,
    "q_abc_class" -> Insights.qAbcClass _,
    "q_price_volume_mix" -> Insights.qPriceVolumeMix _,
    // §2.52 round-8 IR / search primitives
    "q_phrase_search" -> Corpus.qPhraseSearch _,
    "q_boolean_search" -> Corpus.qBooleanSearch _,
    // §2.53 round-8 temporal profiling
    "q_rolling_beta" -> Insights.qRollingBeta _,
    "q_log_histogram" -> Insights.qLogHistogram _,
    "q_peak_hour" -> Insights.qPeakHour _,
    // §2.54 round-8 survey-sampling estimator audits
    "q_ht_estimate" -> Analytics.qHtEstimate _,
    "q_capture_recapture" -> Analytics.qCaptureRecapture _,
    // §2.55 round-8 vocabulary health / audience venn
    "q_hapax" -> CorpusStats.qHapax _,
    "q_venn3" -> CorpusStats.qVenn3 _,
    "q_doclen_disc" -> CorpusStats.qDoclenDisc _,
    // §2.56 round-8 diversity / information-theory audits
    "q_simpson" -> CorpusStats.qSimpson _,
    "q_jsd_sources" -> CorpusStats.qJsdSources _,
    "q_mutual_info" -> Analytics.qMutualInfo _,
    // §2.57 round-8 classifier-agreement audits
    "q_cohens_kappa" -> Quality.qCohensKappa _,
    "q_f1_class" -> Evaluation.qF1Class _,
    "q_mcc" -> Evaluation.qMcc _,
    // §2.58 round-8 concentration / inequality readouts
    "q_lorenz" -> Concentration.qLorenz _,
    "q_hhi" -> Concentration.qHhi _,
    "q_crk_share" -> Concentration.qCrkShare _,
    // §2.59 round-8 distribution-shape diagnostics
    "q_anova" -> Spread.qAnova _,
    "q_tukey_fences" -> Spread.qTukeyFences _,
    "q_bowley_skew" -> Spread.qBowleySkew _,
    // §2.60 round-8 dataset-profile readouts
    "q_dup_profile" -> Profiles.qDupProfile _,
    "q_embed_variance" -> Profiles.qEmbedVariance _,
    "q_order_profile" -> Profiles.qOrderProfile _,
    // §2.61 round-8 distribution-shift audits
    "q_psi" -> Shift.qPsi _,
    "q_bhattacharyya" -> Shift.qBhattacharyya _,
    "q_tail_ratio" -> Shift.qTailRatio _,
    // §2.62 round-8 session analytics
    "q_session_depth" -> Sessions.qSessionDepth _,
    "q_bounce_rate" -> Sessions.qBounceRate _,
    "q_entry_exit" -> Sessions.qEntryExit _,
    // §2.63 round-8 commerce-calendar analytics
    "q_discount_lift" -> Commerce.qDiscountLift _,
    "q_interpurchase" -> Commerce.qInterpurchase _,
    "q_dow_profile" -> Commerce.qDowProfile _,
    // §2.64 round-8 embedding-space audits
    "q_centroid_shift" -> EmbedAudit.qCentroidShift _,
    "q_pq_distortion" -> EmbedAudit.qPqDistortion _,
    "q_dim_corr" -> EmbedAudit.qDimCorr _,
    // §2.65 round-8 experiment-design audits
    "q_power_mde" -> Power.qPowerMde _,
    "q_cohens_d" -> Power.qCohensD _,
    "q_variance_ratio" -> Power.qVarianceRatio _,
    // §2.66 round-8 policy-lexicon / vocabulary-structure audits
    "q_lexicon_filter" -> Lexicon.qLexiconFilter _,
    "q_vocab_overlap" -> Lexicon.qVocabOverlap _,
    "q_char_trigrams" -> Lexicon.qCharTrigrams _,
    // §2.67 round-8 ranking-fusion / time-weighted readouts
    "q_rrf" -> Fusion.qRrf _,
    "q_vwap" -> Fusion.qVwap _,
    "q_decay_score" -> Fusion.qDecayScore _,
    // §2.68 round-8 retail-quality readouts
    "q_return_rates" -> Retail.qReturnRates _,
    "q_price_dispersion" -> Retail.qPriceDispersion _,
    "q_customer_migration" -> Retail.qCustomerMigration _,
    // §2.69 round-8 dedup-calibration audits
    "q_dedup_sweep" -> DedupAudit.qDedupSweep _,
    "q_minhash_accuracy" -> DedupAudit.qMinhashAccuracy _,
    "q_component_profile" -> DedupAudit.qComponentProfile _,
    // §2.71 round-8 sampling-quality audits
    "q_sample_bias" -> Sampling.qSampleBias _,
    "q_stratified_gain" -> Sampling.qStratifiedGain _,
    "q_sample_ci" -> Sampling.qSampleCi _,
    // §2.72 round-8 cross-modal alignment audits
    "q_embed_coverage" -> CrossModal.qEmbedCoverage _,
    "q_len_norm_corr" -> CrossModal.qLenNormCorr _,
    "q_norm_by_label" -> CrossModal.qNormByLabel _,
    // §2.73 round-8 pipeline-tuning sweeps
    "q_chunk_sweep" -> Tuning.qChunkSweep _,
    "q_watermark_sweep" -> Tuning.qWatermarkSweep _,
    "q_gap_hours" -> Tuning.qGapHours _,
    // §2.74 round-8 cohort economics
    "q_cohort_ltv" -> Ltv.qCohortLtv _,
    "q_arpu" -> Ltv.qArpu _,
    "q_payback" -> Ltv.qPayback _,
    // §2.75 round-8 metric-robustness audits
    "q_srm_segments" -> Robustness.qSrmSegments _,
    "q_winsor_sensitivity" -> Robustness.qWinsorSensitivity _,
    "q_whale_share" -> Robustness.qWhaleShare _,
    // §2.76 round-8 tokenizer-design profiles
    "q_token_len_profile" -> TokenStats.qTokenLenProfile _,
    "q_bytes_per_token" -> TokenStats.qBytesPerToken _,
    "q_prefix_vocab" -> TokenStats.qPrefixVocab _,
    // §2.77 round-8 forensic-accounting audits
    "q_benford2" -> Forensic.qBenford2 _,
    "q_round_bias" -> Forensic.qRoundBias _,
    "q_dup_payments" -> Forensic.qDupPayments _,
    // §2.78 round-8 supply-chain risk readouts
    "q_single_source" -> Supply.qSingleSource _,
    "q_supplier_dependency" -> Supply.qSupplierDependency _,
    "q_cross_nation" -> Supply.qCrossNation _,
    // §2.79 round-8 volatility diagnostics
    "q_realized_vol" -> Volatility.qRealizedVol _,
    "q_var95" -> Volatility.qVar95 _,
    "q_streaks" -> Volatility.qStreaks _,
    // §2.80 round-8 curation-policy deltas
    "q_rep_choice" -> Policy.qRepChoice _,
    "q_split_balance" -> Policy.qSplitBalance _,
    "q_filter_overlap" -> Policy.qFilterOverlap _,
    // §2.81 round-8 optimizer-statistics audits
    "q_join_card_audit" -> Optimizer.qJoinCardAudit _,
    "q_selectivity_audit" -> Optimizer.qSelectivityAudit _,
    "q_fd_strength" -> Optimizer.qFdStrength _,
    // §2.82 round-8 seasonal-mix readouts
    "q_weekend_effect" -> Seasonal.qWeekendEffect _,
    "q_mix_shift" -> Seasonal.qMixShift _,
    "q_heat_grid" -> Seasonal.qHeatGrid _,
    // §2.83 round-8 operational-SLO readouts
    "q_freshness" -> Slo.qFreshness _,
    "q_ingest_rate" -> Slo.qIngestRate _,
    "q_sla_attainment" -> Slo.qSlaAttainment _,
    // §2.14 multimodal columns
    "q_multimodal_meta" -> Multimodal.qMultimodalMeta _,
    "q_multimodal_features" -> Multimodal.qMultimodalFeatures _,
    "q_multimodal_resize" -> Multimodal.qMultimodalResize _,
    "q_multimodal_frames" -> Multimodal.qMultimodalFrames _,
    // §2.84 round-9 market-basket analytics
    "q_basket_pairs" -> Baskets.qBasketPairs _,
    "q_cross_sell" -> Baskets.qCrossSell _,
    "q_segment_mix" -> Baskets.qSegmentMix _,
    // §2.85 round-9 nonparametric statistics
    "q_kendall" -> Nonparam.qKendall _,
    "q_runs_test" -> Nonparam.qRunsTest _,
    "q_jackknife" -> Nonparam.qJackknife _,
    // §2.86 round-9 privacy-risk audits
    "q_tcloseness" -> Privacy.qTcloseness _,
    "q_quasi_width" -> Privacy.qQuasiWidth _,
    "q_suppression_cost" -> Privacy.qSuppressionCost _,
    // §2.87 round-9 graph structure diagnostics
    "q_bridge_edges" -> Graphs.qBridgeEdges _,
    "q_degree_hist" -> Graphs.qDegreeHist _,
    "q_closure_by_degree" -> Graphs.qClosureByDegree _,
    // §2.88 round-9 threshold sweeps / score quality
    "q_pr_curve" -> Evaluation.qPrCurve _,
    "q_log_loss" -> Evaluation.qLogLoss _,
    "q_rank_overlap" -> Evaluation.qRankOverlap _,
    // §2.89 round-9 event-sequence dynamics
    "q_switch_rate" -> Sequences.qSwitchRate _,
    "q_dwell_bins" -> Sequences.qDwellBins _,
    "q_ping_pong" -> Sequences.qPingPong _,
    // §2.90 round-9 warehouse staples
    "q_time_grain_rollup" -> Grains.qTimeGrainRollup _,
    "q_pk_audit" -> Grains.qPkAudit _,
    "q_tail_mass" -> Grains.qTailMass _,
    // §2.91 round-9 data-mixing policy
    "q_temperature_mix" -> Mixing.qTemperatureMix _,
    "q_mix_entropy" -> Mixing.qMixEntropy _,
    "q_epoch_plan" -> Mixing.qEpochPlan _,
    // §2.92 round-9 cross-source contamination
    "q_cross_source_dupes" -> CrossSource.qCrossSourceDupes _,
    "q_source_span_matrix" -> CrossSource.qSourceSpanMatrix _,
    "q_near_dup_sources" -> CrossSource.qNearDupSources _,
    // §2.93 round-9 remaining staples
    "q_window_nth" -> Staples.qWindowNth _,
    "q_dup_quality" -> Staples.qDupQuality _,
    "q_sharpe" -> Staples.qSharpe _,
    // §2.94 round-9 user-lifecycle readouts
    "q_new_vs_returning" -> Lifecycle.qNewVsReturning _,
    "q_lifespan_bands" -> Lifecycle.qLifespanBands _,
    "q_reactivation" -> Lifecycle.qReactivation _,
    // §2.95 round-10 extensions: dedup accounting, retrieval eval,
    // rate limiting, sampling and BI staples
    "q_dedup_impact" -> DedupAudit.qDedupImpact _,
    "q_band_sweep" -> DedupAudit.qBandSweep _,
    "q_join_asof_forward" -> Windows.qJoinAsofForward _,
    "q_top_bottom" -> Insights.qTopBottom _,
    "q_dormancy" -> Lifecycle.qDormancy _,
    "q_pq_balance" -> EmbedAudit.qPqBalance _,
    "q_token_run" -> CorpusStats.qTokenRun _,
    "q_sample_systematic" -> Sampling.qSampleSystematic _,
    "q_rate_limit" -> Slo.qRateLimit _,
    "q_knn_classify" -> Evaluation.qKnnClassify _,
    // §2.96 round-10 extensions, second batch: sketch calibration,
    // finance/warehouse staples, feature scaling, DQ profiling
    "q_simhash_accuracy" -> DedupAudit.qSimhashAccuracy _,
    "q_ma_cross" -> Volatility.qMaCross _,
    "q_backlog" -> Supply.qBacklog _,
    "q_period_end_balance" -> Warehouse.qPeriodEndBalance _,
    "q_weighted_quantile" -> Warehouse.qWeightedQuantile _,
    "q_rbo" -> Evaluation.qRbo _,
    "q_fertility" -> TokenStats.qFertility _,
    "q_col_profile" -> Integrity.qColProfile _,
    "q_zscore_outliers" -> Spread.qZscoreOutliers _,
    "q_minmax_scale" -> Features.qMinmaxScale _,
    // §2.97 round-10 extensions, third batch: time-series BI, the
    // nearest as-of, growth curves, retail and retrieval audits
    "q_daily_percentiles" -> Slo.qDailyPercentiles _,
    "q_rank_movers" -> Insights.qRankMovers _,
    "q_join_asof_nearest" -> Windows.qJoinAsofNearest _,
    "q_cumulative_users" -> Lifecycle.qCumulativeUsers _,
    "q_price_changes" -> Retail.qPriceChanges _,
    "q_label_balance" -> EmbedAudit.qLabelBalance _,
    "q_knn_margin" -> Evaluation.qKnnMargin _,
    // §2.98 round-10 extensions, fourth batch: PIT correctness,
    // multiprobe ANN, attribution, product ramps, hashing audits
    "q_pit_lookup" -> Warehouse.qPitLookup _,
    "q_ann_multiprobe" -> Sketches.qAnnMultiprobe _,
    "q_linear_attribution" -> Journeys.qLinearAttribution _,
    "q_item_ramp" -> Commerce.qItemRamp _,
    "q_trend_reversal" -> Causal.qTrendReversal _,
    "q_hash_collisions" -> Learning.qHashCollisions _,
    "q_autocomplete" -> Lexicon.qAutocomplete _,
    // §2.99 round-10 extensions, fifth batch: the distribution-
    // comparison toolbox close-out (location, spread, binary
    // repeated-measures) and forecast-quality decomposition
    "q_median_test" -> Nonparam.qMedianTest _,
    "q_levene" -> Spread.qLevene _,
    "q_cochran_q" -> Nonparam.qCochranQ _,
    "q_brier_decomp" -> Evaluation.qBrierDecomp _,
    // §2.100 round-10 extensions, sixth batch: paired-classifier and
    // normality screens
    "q_mcnemar" -> Evaluation.qMcnemar _,
    "q_jarque_bera" -> Spread.qJarqueBera _,
    // §2.101 round-10 extensions, seventh batch: count-model and
    // tail-coverage screens
    "q_poisson_dispersion" -> Spread.qPoissonDispersion _,
    "q_chebyshev_coverage" -> Spread.qChebyshevCoverage _,
    // §2.102 round-10 extensions, eighth batch: the rank-based
    // k-sample test closing the nonparametric family
    "q_kruskal_wallis" -> Nonparam.qKruskalWallis _,
    // §2.103 round-10 extensions, ninth batch: robust regression
    "q_theil_sen" -> Analytics.qTheilSen _,
    // §2.105 round-11 extensions: paired/correlation nonparametrics +
    // sequential drift on the day spine
    "q_spearman" -> Inference.qSpearman _,
    "q_wilcoxon_signed" -> Inference.qWilcoxonSigned _,
    "q_sign_test" -> Inference.qSignTest _,
    "q_friedman" -> Inference.qFriedman _,
    "q_page_hinkley" -> Inference.qPageHinkley _,
    "q_theil_u" -> Inference.qTheilU _,
    // §2.106 round-11 extensions: collocation / LM corpus scores
    "q_pmi" -> Colloc.qPmi _,
    "q_perplexity" -> Colloc.qPerplexity _,
    // §2.105 round-11 second batch: co-movement / outlier / consistency
    "q_rolling_corr" -> Inference.qRollingCorr _,
    "q_grubbs" -> Inference.qGrubbs _,
    "q_partial_corr" -> Inference.qPartialCorr _,
    "q_cronbach" -> Inference.qCronbach _,
    // §2.106 round-11 second batch: lexical-statistics staples
    "q_good_turing" -> Colloc.qGoodTuring _,
    "q_yule_k" -> Colloc.qYuleK _,
    // §2.107 round-11: the MERGE upsert-apply warehouse staple
    "q_merge_upsert" -> Warehouse.qMergeUpsert _,
    // §2.108 round-11: compliance delete-propagation audit
    "q_delete_propagation" -> Integrity.qDeletePropagation _,
    // §2.109 round-11: model-evaluation curve + the distributed
    // gradient primitive
    "q_roc_curve" -> Evaluation.qRocCurve _,
    "q_grad_step" -> Evaluation.qGradStep _,
    // §2.110 round-12: storage-layout depth twin + IR/statistics staples
    "q_dedup_band_bucketed" ->
      (graft.sources.FileFormats.qDedupBandBucketed _),
    "q_query_likelihood" -> Corpus.qQueryLikelihood _,
    "q_neyman_allocation" -> Sampling.qNeymanAllocation _,
    "q_gumbel_fit" -> Experiments.qGumbelFit _,
    "q_bartlett" -> Spread.qBartlett _,
    // §2.111 round-12 second batch: retrieval diversification +
    // semantic-mix audit
    "q_mmr_diversify" -> Vectors.qMmrDiversify _,
    "q_semantic_mix" -> EmbedAudit.qSemanticMix _,
    "q_anderson_darling" -> Experiments.qAndersonDarling _,
    "q_effective_rank" -> Profiles.qEffectiveRank _,
    "q_calibration_ece" -> Evaluation.qCalibrationEce _,
    "q_fleiss_kappa" -> Nonparam.qFleissKappa _,
    // §2.112 round-13: depth twins (AQE skew join, bucketed window
    // rank) + the Welch t staple
    "q_join_skew" -> Advanced.qJoinSkew _,
    "q_rank_bucketed" -> (graft.sources.FileFormats.qRankBucketed _),
    "q_welch_ttest" -> Power.qWelchTtest _,
    // §2.113 round-13 second batch: runtime scan avoidance (dynamic
    // partition pruning, sorted-layout row-group skipping)
    "q_join_dpp" -> (graft.sources.FileFormats.qJoinDpp _),
    "q_scan_sorted" -> (graft.sources.FileFormats.qScanSorted _),
    // §2.114: incremental batch-vs-corpus dedup over the standing
    // bucketed band table
    "q_dedup_incremental" -> (graft.sources.FileFormats.qDedupIncremental _),
    // §2.115 round-14: the AQE runtime-coalesce mechanism twin
    "q_shuffle_coalesce" -> Advanced.qShuffleCoalesce _,
    // §2.116 round-14: runtime Bloom-filter join pruning
    "q_join_runtime_filter" -> Advanced.qJoinRuntimeFilter _,
    // §2.117 round-14: runtime broadcast promotion (AQE join re-plan)
    "q_join_runtime_bcast" -> Advanced.qJoinRuntimeBcast _
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables of `sfDir`. Omit for non-SQL-expressible
    * ops. */
  def oracleSql(sfDir: String): Map[String, String] = Oracles.at(sfDir)
}
