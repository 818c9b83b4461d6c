package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.regionSales(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (Relational.pricingSummary _),
    "q02_top_revenue"     -> (Relational.topRevenue _),
    "q03_segment_revenue" -> (Relational.segmentRevenue _),
    "q04_region_sales"    -> (Relational.regionSales _),
    "q05_order_priority"  -> (Relational.orderPriority _),
    "q06_selective_sum"   -> (Relational.selectiveSum _),
    "q07_cust_top_orders" -> (Relational.custTopOrders _),
    "q08_segment_distinct" -> (Relational.segmentDistinct _),
    "q09_idle_customers"  -> (Relational.idleCustomers _),
    "q10_rollup_sales"    -> (Relational.rollupSales _),
    "q11_part_type_topk"  -> (Relational.partTypeTopK _),
    "q12_latest_state"    -> (Events.latestState _),
    "q13_tumbling_counts" -> (Events.tumblingCounts _),
    "q14_sessionize"      -> (Events.sessionize _),
    "q15_payload_extract" -> (Events.payloadExtract _),
    "q16_event_funnel"    -> (Events.eventFunnel _),
    "q17_asof_join"       -> (Events.asofJoin _),
    "q18_upsert_merge"    -> (Events.upsertMerge _),
    "q19_delete_tombstones" -> (Events.deleteTombstones _),
    "q20_dedup_exact"       -> (Dedup.exact _),
    "q21_dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "q22_dedup_minhash"     -> (Dedup.minhashLsh _),
    "q23_dedup_simhash"     -> (Dedup.simhash _),
    "q24_embed_near_dup"    -> ((s, d) => Similarity.embedNearDup(s, d)),
    "q25_ann_bruteforce"    -> ((s, d) => Similarity.annBruteForce(s, d)),
    "q26_ann_lsh"           -> ((s, d) => Similarity.annLshBuckets(s, d)),
    "q27_token_stats"       -> (TextAnalysis.tokenStats _),
    "q28_doc_quality"       -> (TextAnalysis.docQuality _),
    "q29_lang_id"           -> (TextAnalysis.langId _),
    "q30_fingerprint"       -> (TextAnalysis.fingerprint _),
    "q31_binary_meta"       -> (Multimodal.binaryMeta _),
    "q32_word_freq"         -> (TextAnalysis.wordFreq _),
    "q33_cube_orders"       -> (Relational.cubeOrders _),
    "q34_value_stats"       -> (Events.valueStats _),
    "q35_supplier_balance"  -> (Relational.supplierBalance _),
    "q36_row_materialize"   -> (Events.rowMaterialize _),
    "q37_label_centroids"   -> (Similarity.labelCentroids _),
    "q38_ann_ivf"           -> ((s, d) => Similarity.ivfTopK(s, d)),
    "q39_order_histogram"   -> (Relational.orderHistogram _),
    "q40_median_order"      -> (Relational.medianOrder _),
    "q41_set_ops"           -> (Relational.setOps _),
    "q42_sliding_counts"    -> (Events.slidingCounts _),
    "q43_pivot_counts"      -> (Events.pivotCounts _),
    "q44_first_last"        -> (Events.firstLast _),
    "q45_scalar_subquery"   -> (Relational.maxOrderVsBalance _),
    "q46_source_mix"        -> ((s, d) => Pipeline.sourceMix(s, d)),
    "q47_name_match"        -> ((s, d) => Dedup.nameMatch(s, d)),
    "q48_canonical_docs"    -> (Dedup.canonicalDocs _),
    "q49_norm_dedup"        -> (Dedup.normalizedDedup _),
    "q50_lm_score"          -> (TextAnalysis.lmScore _),
    "q51_cohort_retention"  -> (Events.cohortRetention _),
    "q52_frame_sample"      -> ((s, d) => Multimodal.frameSample(s, d)),
    "q53_wal_stream_materialize" -> (StreamingOps.walStreamMaterialize _),
    "q54_hash_sample"       -> ((s, d) => Sampling.hashSample(s, d)),
    "q55_stratified_sample" -> ((s, d) => Sampling.stratifiedSample(s, d)),
    "q56_bigram_lm"         -> (TextAnalysis.bigramLmScore _),
    "q57_decontaminate"     -> (TextAnalysis.decontaminate _),
    "q58_tfidf_topk"        -> ((s, d) => TextAnalysis.tfidfTopK(s, d)),
    "q59_dedup_components"  -> (Dedup.dedupComponents _),
    "q60_count_min_audit"   -> ((s, d) => Sketch.countMinAudit(s, d)),
    "q61_pii_mask"          -> (Privacy.piiMask _),
    "q62_asof_api"          -> (Events.asofApi _),
    "q63_session_assign"    -> (Events.sessionAssign _),
    "q64_value_bands"       -> (Events.valueBands _),
    "q65_curate"            -> (Pipeline.curate _),
    "q66_token_pack"        -> ((s, d) => Pipeline.tokenPack(s, d)),
    "q67_group_quartiles"   -> (Relational.groupQuartiles _),
    "q68_user_anomaly"      -> (Events.userAnomaly _),
    "q69_subscription_audit" -> (StreamingOps.subscriptionAudit _),
    "q70_scd2"              -> (Events.scd2 _),
    "q71_time_travel"       -> ((s, d) => Events.timeTravel(s, d)),
    "q72_bigram_topk"       -> (TextAnalysis.bigramTopK _),
    "q73_window_stream"     -> (StreamingOps.windowStream _),
    "q74_dedup_cluster_sizes" -> (Dedup.clusterSizes _),
    "q75_embedding_norms"   -> (Similarity.normStats _),
    "q76_effectively_once"  -> (StreamingOps.effectivelyOnce _),
    "q77_repetition"        -> (TextAnalysis.repetition _),
    "q78_session_stream"    -> (StreamingOps.sessionStream _),
    "q79_event_gaps"        -> (Events.eventGaps _),
    "q80_interval_join_stream" -> (StreamingOps.intervalJoinStream _),
    "q81_salted_hot_key"    -> ((s, d) => Skew.saltedHotKeyAgg(s, d)),
    "q82_bucketed_join"     -> (Bucketing.bucketedJoin _),
    "q83_ttl_materialize"   -> ((s, d) => StreamingOps.ttlMaterialize(s, d)),
    "q84_stream_enrich"     -> (StreamingOps.streamEnrich _),
    "q85_mixture_sample"    -> ((s, d) => Pipeline.mixtureSample(s, d)),
    "q86_stream_dedupe"     -> (StreamingOps.streamDedupe _),
    "q87_replay_out_of_order" -> (StreamingOps.replayOutOfOrder _),
    "q88_bloom_decontaminate" -> ((s, d) => TextAnalysis.bloomDecontaminate(s, d)),
    "q89_zipf_audit"        -> ((s, d) => TextAnalysis.zipfAudit(s, d)),
    "q90_bloom_fp_audit"    -> (TextAnalysis.bloomFpAudit _),
    "q91_user_entropy"      -> (Events.userEntropy _),
    "q92_hll_audit"         -> ((s, d) => Sketch.hllAudit(s, d)),
    "q93_dup_span_fraction" -> (Dedup.dupSpanFraction _),
    "q94_dedup_pagerank"    -> ((s, d) => Dedup.pageRank(s, d)),
    "q95_stream_funnel"     -> (StreamingOps.streamFunnel _),
    "q96_weighted_sample"   -> ((s, d) => Sampling.weightedSample(s, d)),
    "q98_containment_pairs" -> ((s, d) => Dedup.containmentPairs(s, d)),
    "q99_ivf_self_join"     -> ((s, d) => Similarity.ivfSelfJoin(s, d)),
    "q97_hist_quantiles"    -> ((s, d) => Sketch.histQuantiles(s, d)),
    "q100_rocksdb_materialize" -> (StreamingOps.rocksDbMaterialize _),
    "q101_winnow_pairs"     -> ((s, d) => Dedup.winnowPairs(s, d)),
    "q102_quota_sample"     -> ((s, d) => Sampling.quotaSample(s, d)),
    "q103_asof_forward"     -> (Events.asofForward _),
    "q104_markov_transitions" -> (Events.markovTransitions _),
    "q105_incremental_dedup" -> (Dedup.incrementalDedup _),
    "q106_cluster_canonical" -> (Dedup.clusterCanonical _),
    "q107_selfjoin_size_sketch" -> ((s, d) => Sketch.selfJoinSizeSketch(s, d)),
    "q108_corr_profile"     -> (Relational.corrProfile _),
    "q109_embed_clusters"   -> ((s, d) => Similarity.embedClusters(s, d)),
    "q110_boilerplate_report" -> ((s, d) => Dedup.winnowBoilerplate(s, d)),
    "q111_persisted_incremental" -> (Dedup.persistedIncrementalDedup _),
    "q112_dedup_report"     -> (Dedup.dedupReport _),
    "q113_phash_neardup"    -> ((s, d) => Multimodal.phashNearDup(s, d)),
    "q114_binary_entropy"   -> (Multimodal.binaryEntropy _),
    "q115_funnel_ttl_stream" -> ((s, d) => StreamingOps.funnelTtlStream(s, d)),
    "q116_stream_topk"      -> ((s, d) => StreamingOps.streamTopK(s, d)),
    "q117_quality_cut"      -> (Pipeline.qualityCut _),
    "q118_embed_union"      -> ((s, d) => Similarity.embedNearDupUnion(s, d)),
    "q119_segment_clean"    -> ((s, d) => Dedup.segmentClean(s, d)),
    "q120_source_overlap"   -> (Dedup.sourceOverlap _),
    "q121_left_outer_stream" -> (StreamingOps.leftOuterJoinStream _),
    "q122_last_click_attribution" -> (Events.lastClickAttribution _),
    "q123_stream_pivot"     -> (StreamingOps.streamPivot _),
    "q124_sq8_rerank"       -> ((s, d) => Similarity.sq8Rerank(s, d)),
    "q125_hll_overlap"      -> (Sketch.hllOverlap _),
    "q126_incremental_agg"  -> ((s, d) => Incremental.incrementalAgg(s, d)),
    "q127_chunk_dedup"      -> ((s, d) => Multimodal.chunkDedup(s, d)),
    "q128_group_regression" -> (Relational.groupRegression _),
    "q129_triangle_count"   -> (Dedup.triangleCount _),
    "q130_k_anonymity"      -> ((s, d) => Privacy.kAnonymity(s, d)),
    "q131_stream_hll"       -> (StreamingOps.streamHll _),
    "q132_coherent_sample"  -> ((s, d) => Sampling.coherentSample(s, d)),
    "q133_multi_signal_dedup" -> (Dedup.multiSignalDedup _),
    "q134_resample_ffill"   -> ((s, d) => Events.resampleFfill(s, d)),
    "q135_rolling_features" -> (Events.rollingFeatures _),
    "q136_table_profile"    -> (Relational.tableProfile _),
    "q137_bloom_semi_join"  -> ((s, d) => Bucketing.bloomSemiJoin(s, d)),
    "q138_partition_pruning" -> ((s, d) => Bucketing.partitionPruning(s, d)),
    "q139_zorder_audit"     -> (Bucketing.zOrderAudit _),
    "q140_stream_upsert_view" -> (StreamingOps.streamUpsertView _),
    "q141_basket_pairs"     -> ((s, d) => Relational.basketPairs(s, d)),
    "q142_session_paths"    -> (Events.sessionPaths _),
    "q143_bpe_merge_freq"   -> ((s, d) => TextAnalysis.bpeMergeFreq(s, d)),
    "q144_dp_noise"         -> ((s, d) => Privacy.dpNoisyCounts(s, d)),
    "q145_l_diversity"      -> ((s, d) => Privacy.lDiversity(s, d)),
    "q146_split_leakage"    -> ((s, d) => Pipeline.splitLeakage(s, d)),
    "q147_coherent_split"   -> ((s, d) => Pipeline.coherentSplitAudit(s, d)),
    "q148_joinsize_sketch"  -> ((s, d) => Sketch.crossJoinSizeSketch(s, d)),
    "q149_split_manifest"   -> ((s, d) => Pipeline.splitManifest(s, d)),
    "q150_snapshot_diff"    -> ((s, d) => Incremental.snapshotDiff(s, d)),
    "q151_range_buckets"    -> ((s, d) => Bucketing.rangeBuckets(s, d)),
    "q152_fk_integrity"     -> ((s, d) => Relational.fkIntegrity(s, d)),
    "q153_lsh_recall"       -> ((s, d) => Dedup.lshRecallAudit(s, d)),
    "q154_robust_outliers"  -> ((s, d) => Sketch.robustOutliers(s, d)),
    "q155_ann_recall"       -> ((s, d) => Similarity.annRecallAudit(s, d)),
    "q156_position_attribution" -> (Events.positionAttribution _),
    "q157_ab_lift"          -> (Events.abLift _),
    "q158_watermark_lag"    -> ((s, d) => StreamingOps.watermarkLagAudit(s, d)),
    "q159_forget_cascade"   -> ((s, d) => Privacy.forgetCascade(s, d)),
    "q160_skew_report"      -> ((s, d) => Skew.skewReport(s, d)),
    "q161_centroid_drift"   -> ((s, d) => Similarity.centroidDrift(s, d)),
    "q162_lang_length_chi2" -> ((s, d) => TextAnalysis.langLengthChi2(s, d)),
    "q163_rate_spikes"      -> (Events.rateSpikes _),
    "q164_conversion_latency" -> (Events.conversionLatency _),
    "q165_mixture_plan"     -> ((s, d) => Pipeline.mixturePlan(s, d)),
    "q166_split_contamination" -> ((s, d) => TextAnalysis.splitContamination(s, d)),
    "q167_basket_triples"   -> ((s, d) => Relational.basketTriples(s, d)),
    "q168_markov_holdout"   -> (Events.markovHoldout _),
    "q169_bm25_search"      -> ((s, d) => TextAnalysis.bm25Search(s, d)),
    "q170_degree_audit"     -> ((s, d) => Dedup.degreeAudit(s, d)),
    "q171_nprobe_sweep"     -> ((s, d) => Similarity.annNprobeSweep(s, d)),
    "q172_hybrid_rrf"       -> ((s, d) => Similarity.hybridRrf(s, d)),
    "q173_pit_features"     -> (Events.pitFeatures _),
    "q174_auc_rank"         -> (Eval.aucRank _),
    "q175_calibration"      -> (Eval.calibrationReport _),
    "q176_psi_drift"        -> (Eval.psiDrift _),
    "q177_pmi_collocations" -> ((s, d) => TextAnalysis.pmiCollocations(s, d)),
    "q178_lsh_precision"    -> ((s, d) => Dedup.lshPrecisionAudit(s, d)),
    "q179_schema_evolution" -> ((s, d) => Bucketing.schemaEvolution(s, d)),
    "q180_zorder_locality"  -> ((s, d) => Bucketing.zorderLocality(s, d)),
    "q181_incremental_components" -> ((s, d) => Dedup.incrementalComponents(s, d)),
    "q182_bbit_minhash"     -> ((s, d) => Dedup.bbitMinhashAudit(s, d)),
    "q183_ndcg_eval"        -> (Eval.ndcgEval _),
    "q184_bootstrap_ci"     -> ((s, d) => Eval.bootstrapCi(s, d)),
    "q185_path_topk"        -> ((s, d) => Events.pathTopK(s, d)),
    "q186_media_canonical"  -> ((s, d) => Multimodal.mediaCanonical(s, d)),
    "q187_stem_vocab"       -> ((s, d) => TextAnalysis.stemVocabAudit(s, d)),
    "q188_group_kfold"      -> ((s, d) => Eval.groupKfold(s, d)),
    "q189_ewma_spikes"      -> (Events.ewmaSpikes _),
    "q190_pr_curve"         -> ((s, d) => Eval.prCurve(s, d)),
    "q191_seasonal_spikes"  -> (Events.seasonalSpikes _),
    "q192_wal_integrity"    -> ((s, d) => Events.walIntegrity(s, d)),
    "q193_acf_lags"         -> ((s, d) => Events.acfLags(s, d)),
    "q194_edit_verify"      -> ((s, d) => Dedup.editVerify(s, d)),
    "q195_stream_wal_integrity" -> ((s, d) => StreamingOps.streamWalIntegrity(s, d)),
    "q196_heaps_vocab"      -> ((s, d) => TextAnalysis.heapsVocab(s, d)),
    "q197_ivf_delta_probe"  -> ((s, d) => Similarity.ivfDeltaProbe(s, d)),
    "q198_completeness_curve" -> ((s, d) => StreamingOps.completenessCurve(s, d)),
    "q199_t_closeness"      -> ((s, d) => Privacy.tCloseness(s, d)),
    "q200_auto_anomaly"     -> (Events.autoAnomaly _),
    "q201_dedup_threshold_sweep" -> ((s, d) => Dedup.dedupThresholdSweep(s, d)),
    "q202_mixture_temperature"   -> (Pipeline.mixtureTemperature _),
    "q203_active_users"     -> (Events.activeUsers _),
    "q204_source_quality_calibration" ->
      ((s, d) => Pipeline.sourceQualityCalibration(s, d)),
    "q205_constraint_checks" -> (Relational.constraintChecks _),
    "q206_survival_curve"   -> (Events.survivalCurve _),
    "q207_kcore"            -> ((s, d) => Dedup.kCore(s, d)),
    "q208_stream_active_users" ->
      ((s, d) => StreamingOps.streamActiveUsers(s, d)),
    "q209_cohort_funnel"    -> (Events.cohortFunnel _),
    "q210_pii_scan"         -> ((s, d) => Privacy.piiScan(s, d)),
    "q211_lang_confusion"   -> (TextAnalysis.langConfusion _),
    "q212_wal_retention"    -> (WalRetention.walRetentionState _),
    "q213_benford_audit"    -> (Relational.benfordAudit _),
    "q214_rater_agreement"  -> (TextAnalysis.raterAgreement _),
    "q215_readability"      -> (TextAnalysis.readability _),
    "q216_tokenizer_fertility" -> (TextAnalysis.tokenizerFertility _),
    "q217_chunk_manifest"   -> ((s, d) => Pipeline.chunkManifest(s, d)),
    "q218_pq_recall"        -> ((s, d) => Similarity.pqRecall(s, d)),
    "q219_dup_drift"        -> ((s, d) => Dedup.dupDrift(s, d)),
    "q220_ngram_novelty"    -> ((s, d) => TextAnalysis.ngramNovelty(s, d)),
    "q221_stream_quota"     -> ((s, d) => StreamingOps.streamQuota(s, d)),
    "q222_category_drift"   -> (Incremental.categoryDrift _),
    "q223_edge_cohesion"    -> (Dedup.edgeCohesion _),
    "q224_mmr_diversify"    -> ((s, d) => Similarity.mmrDiversify(s, d)),
    "q225_scene_cuts"       -> ((s, d) => Multimodal.sceneCuts(s, d)),
    "q226_bounce_rate"      -> (Events.bounceRate _),
    "q227_char_entropy"     -> (TextAnalysis.charEntropy _),
    "q228_cohort_ltv"       -> (Events.cohortLtv _),
    "q229_seasonal_profile" -> (Events.seasonalProfile _),
    "q230_stream_scd2"      -> ((s, d) => StreamingOps.streamScd2(s, d)),
    "q231_group_quantile_bands" -> ((s, d) => Sketch.groupQuantileBands(s, d)),
    "q232_code_switch"      -> (TextAnalysis.codeSwitch _),
    "q233_embed_outliers"   -> (Similarity.embedOutliers _),
    "q234_reconciliation"   -> ((s, d) => Relational.reconciliation(s, d)),
    "q235_ship_latency"     -> ((s, d) => Relational.shipLatency(s, d)),
    "q236_price_consistency" -> ((s, d) => Relational.priceConsistency(s, d)),
    "q237_contrastive_pairs" -> (Pipeline.contrastivePairs _),
    "q238_sq8_calibration"  -> (Similarity.sq8Calibration _),
    "q239_epoch_shuffle"    -> ((s, d) => Sampling.epochShuffle(s, d)),
    "q240_packing_efficiency" -> ((s, d) => Pipeline.packingEfficiency(s, d)),
    "q241_rfm_segments"     -> (Relational.rfmSegments _),
    "q242_cusum_changepoint" -> (Events.cusumChangepoints _),
    "q243_softdedup_weights" -> (Dedup.softdedupWeights _),
    "q244_bitmask_retention" -> ((s, d) => Events.bitmaskRetention(s, d)),
    "q245_session_overlap"  -> (Events.sessionMaintenanceOverlap _),
    "q246_revenue_gini"     -> ((s, d) => Relational.revenueGini(s, d)),
    "q247_stream_asof"      -> (StreamingOps.streamAsofAttribution _),
    "q248_vocab_coverage"   -> (TextAnalysis.vocabCoverage _),
    "q249_ivm_join"         -> (Incremental.ivmJoin _),
    "q250_kmv_overlap"      -> ((s, d) => Sketch.kmvOverlap(s, d)),
    "q251_partition_bloom"  -> ((s, d) => Bucketing.partitionBloomAudit(s, d)),
    "q252_stream_rate_spikes" -> (StreamingOps.streamRateSpikes _),
    "q253_stl_decompose"    -> (Events.stlDecompose _),
    "q254_window_funnel"    -> ((s, d) => Events.windowFunnel(s, d)),
    "q255_alignment_filter" -> ((s, d) => Multimodal.alignmentFilter(s, d)),
    "q256_copurchase_topk"  -> ((s, d) => Relational.copurchaseTopK(s, d)),
    "q257_csv_ingest"       -> (Pipeline.csvIngest _),
    "q258_dynamic_pruning"  -> (Bucketing.dynamicPartitionPruning _),
    "q259_temporal_split"   -> (Pipeline.temporalSplit _),
    "q260_jl_projection"    -> ((s, d) => Similarity.jlProjection(s, d)),
    "q261_twohop_reach"     -> (Dedup.twoHopReach _),
    "q262_max_versions"     -> ((s, d) => Events.maxVersionsRead(s, d)),
    "q263_consumer_lag"     -> (StreamingOps.consumerLag _),
    "q264_abc_classes"      -> ((s, d) => Relational.abcClasses(s, d)),
    "q265_spike_attribution" -> (Events.spikeAttribution _),
    "q266_degree_assortativity" -> (Dedup.degreeAssortativity _),
    "q267_event_debounce"   -> ((s, d) => Events.eventDebounce(s, d)),
    "q268_sql_api"          -> (Relational.sqlApi _),
    "q269_stream_debounce"  -> ((s, d) => StreamingOps.streamDebounce(s, d)),
    "q270_stream_max_versions" -> ((s, d) => StreamingOps.streamMaxVersions(s, d)),
    "q271_theil_sen_forecast" -> ((s, d) => Events.theilSenForecast(s, d)),
    "q272_cbo_skew_audit"   -> (Relational.cboSkewAudit _),
    "q273_rowkey_scan"      -> ((s, d) => Bucketing.rowkeyScan(s, d)),
    "q274_stream_full_outer" -> (StreamingOps.fullOuterJoinStream _),
    "q275_bpe_train"        -> ((s, d) => TextAnalysis.bpeTrain(s, d)),
    "q276_small_qty_revenue" -> (Relational.smallQtyRevenue _),
    "q277_waiting_suppliers" -> (Relational.waitingSuppliers _),
    "q278_dormant_high_balance" -> ((s, d) => Relational.dormantHighBalance(s, d)),
    "q279_promo_share"      -> (Relational.promoShare _),
    "q280_market_leader"    -> (Relational.marketLeader _),
    "q281_label_propagation" -> ((s, d) => Dedup.labelPropagation(s, d)),
    "q282_bpe_apply"        -> ((s, d) => TextAnalysis.bpeApply(s, d)),
    "q283_stream_bitmask_retention" -> ((s, d) => StreamingOps.streamBitmaskRetention(s, d)),
    "q284_ks_drift"         -> (Eval.ksDrift _),
    "q285_markov_removal"   -> ((s, d) => Events.markovRemoval(s, d)),
    "q286_stream_kmv"       -> ((s, d) => StreamingOps.streamKmv(s, d)),
    "q287_decile_lift"      -> (Eval.decileLift _),
    "q288_ann_filtered"     -> ((s, d) => Similarity.annFiltered(s, d)),
    "q289_ivm_retract"      -> ((s, d) => Incremental.ivmRetract(s, d)),
    "q290_pareto_frontier"  -> (Relational.paretoFrontier _),
    "q291_media_shard_pack" -> ((s, d) => Multimodal.mediaShardPack(s, d)),
    "q292_max_concurrency"  -> (Events.maxConcurrency _),
    "q293_disjunctive_revenue" -> (Relational.disjunctiveRevenue _),
    "q294_null_aware_antijoin" -> (Relational.nullAwareAntiJoin _),
    "q295_contribution_decomposition" -> ((s, d) => Relational.contributionDecomposition(s, d)),
    "q296_crosstab_independence" -> (Events.crosstabIndependence _),
    "q297_ack_retention"    -> ((s, d) => WalRetention.ackRetentionReport(s, d)),
    "q298_filtered_ivf"     -> ((s, d) => Similarity.filteredIvfRecall(s, d)),
    "q299_stream_ivm_retract" -> ((s, d) => StreamingOps.streamIvmRetract(s, d)),
    "q300_ppm_decode"       -> ((s, d) => Multimodal.ppmDecode(s, d)),
    "q301_skyline_3d"       -> (Relational.skyline3d _),
    "q302_min_cost_supplier" -> (Relational.minCostSupplier _),
    "q303_important_parts"  -> (Relational.importantParts _),
    "q304_top_supplier"     -> (Relational.topSupplier _),
    "q305_brand_supplier_counts" -> (Relational.brandSupplierCounts _),
    "q306_dominant_supplier" -> (Relational.dominantSupplier _),
    "q307_returned_revenue" -> ((s, d) => Relational.returnedRevenue(s, d)),
    "q308_power_curve"      -> (Events.powerCurve _),
    "q309_macro_f1"         -> (Eval.macroF1 _),
    "q310_shipping_priority" -> (Relational.shippingPriority _),
    "q311_nation_trade"     -> (Relational.nationTrade _),
    "q312_nation_profit"    -> (Relational.nationProfit _),
    "q313_large_orders"     -> ((s, d) => Relational.largeOrders(s, d)),
    "q314_sep_lifecycle"    -> (StreamingOps.sepLifecycle _),
    "q315_bot_regularity"   -> (Events.botRegularity _),
    "q316_growth_accounting" -> (Events.growthAccounting _),
    "q317_cust_order_distribution" -> (Relational.custOrderDistribution _),
    "q318_bfs_hops"         -> ((s, d) => Dedup.bfsHops(s, d)),
    "q319_spearman_price_demand" -> (Relational.spearmanPriceDemand _),
    "q320_supplier_hhi"     -> (Relational.supplierHhi _),
    "q321_ppm_resize"       -> ((s, d) => Multimodal.ppmResize(s, d)),
    "q322_time_to_convert"  -> (Events.timeToConvert _),
    "q323_audience_overlap" -> (Events.audienceOverlap _),
    "q324_bfs_delta"        -> ((s, d) => Dedup.bfsDelta(s, d)),
    "q325_shipmode_priority" -> (Relational.shipmodePriority _),
    "q326_stream_dedup_index" -> ((s, d) => Dedup.streamDedupIndex(s, d)),
    "q327_stream_dedup_pairs" -> ((s, d) => Dedup.streamDedupPairs(s, d)),
    "q328_png_decode"       -> ((s, d) => Multimodal.pngDecode(s, d)),
    "q329_png_dhash"        -> ((s, d) => Multimodal.pngDhash(s, d)),
    "q330_ivf_pq"           -> ((s, d) => Similarity.ivfPqRecall(s, d)),
    "q331_kll_quantiles"    -> ((s, d) => Sketch.kllQuantiles(s, d)),
    "q332_name_blocks"      -> ((s, d) => Dedup.nameBlockStats(s, d)),
    "q333_dsir_selection"   -> ((s, d) => Pipeline.dsirSelection(s, d)),
    "q334_silhouette"       -> ((s, d) => Eval.silhouette(s, d)),
    "q335_gopher_rules"     -> ((s, d) => TextAnalysis.gopherRules(s, d)),
    "q336_ngram_contamination" ->
      ((s, d) => TextAnalysis.ngramContamination(s, d)),
    "q337_semdedup"         -> ((s, d) => Similarity.semDedup(s, d)),
    "q338_ccnet_buckets"    -> ((s, d) => Pipeline.ccnetBuckets(s, d)),
    "q339_grouping_sets"    -> ((s, d) => Relational.groupingSetsSales(s, d)),
    "q340_stream_kll"       -> ((s, d) => StreamingOps.streamKll(s, d)),
    "q341_hits"             -> ((s, d) => Events.hits(s, d)),
    "q342_lsh_planner"      -> ((s, d) => Dedup.lshPlanner(s, d)),
    "q343_mrr"              -> ((s, d) => Eval.mrr(s, d)),
    "q344_intradoc_repetition" ->
      ((s, d) => TextAnalysis.intradocRepetition(s, d)),
    "q345_price_band_join"  -> ((s, d) => Relational.priceBandJoin(s, d)),
    "q346_cond_bigram_lm"   -> ((s, d) => TextAnalysis.condBigramLm(s, d)),
    "q347_rag_pack"         -> ((s, d) => Pipeline.ragPack(s, d)),
    "q348_cluster_pii"      -> ((s, d) => Privacy.clusterPiiPropagation(s, d)),
    "q349_effective_tokens" -> ((s, d) => Pipeline.effectiveTokens(s, d)),
    "q350_minhash_estimator" ->
      ((s, d) => Dedup.minhashEstimatorAudit(s, d)),
    "q351_skipgram_pairs"   -> ((s, d) => TextAnalysis.skipgramPairs(s, d)),
    "q352_negative_sampling" ->
      ((s, d) => TextAnalysis.negativeSampling(s, d)),
    "q353_source_divergence" ->
      ((s, d) => Pipeline.sourceDivergence(s, d)),
    "q354_kcenter_coreset"  -> ((s, d) => Similarity.kcenterCoreset(s, d)),
    "q355_domain_transfer"  -> ((s, d) => Pipeline.domainTransferMatrix(s, d)),
    "q356_link_prediction"  -> ((s, d) => Relational.linkPrediction(s, d)),
    "q357_association_rules" ->
      ((s, d) => Relational.associationRules(s, d)),
    "q358_reciprocal_match" -> ((s, d) => Dedup.reciprocalBestMatch(s, d)),
    "q359_label_noise"      -> ((s, d) => Similarity.labelNoise(s, d)),
    "q360_minhash_k_sweep"  -> ((s, d) => Dedup.minhashKSweep(s, d)),
    "q361_backoff_lm"       -> ((s, d) => TextAnalysis.backoffLm(s, d)),
    "q362_moore_lewis"      -> ((s, d) => Pipeline.mooreLewis(s, d)),
    "q363_log_odds_terms"   -> ((s, d) => TextAnalysis.logOddsTerms(s, d)),
    "q364_stream_psi"       -> ((s, d) => StreamingOps.streamPsi(s, d)),
    "q365_mcc"              -> ((s, d) => Eval.mcc(s, d)),
    "q368_heavy_hitters"    -> ((s, d) => Sketch.heavyHitters(s, d)),
    "q369_stream_heavy_hitters" ->
      ((s, d) => StreamingOps.streamHeavyHitters(s, d)),
    "q366_simhash_precision" ->
      ((s, d) => Dedup.simhashNearDup(s, d)),
    "q367_fellegi_sunter"   -> ((s, d) => Dedup.fellegiSunter(s, d)),
    "q370_radius_search"    -> ((s, d) => Similarity.radiusSearch(s, d)),
    "q371_local_clustering" -> ((s, d) => Dedup.localClustering(s, d)),
    "q372_winsorized_means" -> ((s, d) => Sketch.winsorized(s, d)),
    "q373_hill_tail"        -> ((s, d) => TextAnalysis.hillTail(s, d)),
    "q374_kn_lm"            -> ((s, d) => TextAnalysis.knLm(s, d)),
    "q375_span_dedup"       -> ((s, d) => Dedup.spanDedup(s, d)),
    "q376_png_histogram"    -> ((s, d) => Multimodal.pngHistogram(s, d)),
    "q377_group_kll"        -> ((s, d) => Sketch.groupKll(s, d)),
    "q378_kendall_tau"      -> ((s, d) => Eval.kendallTau(s, d)),
    "q379_curriculum_pacing" ->
      ((s, d) => Pipeline.curriculumPacing(s, d)),
    "q380_chinchilla_planner" ->
      ((s, d) => Pipeline.chinchillaPlanner(s, d)),
    "q381_generalization_ladder" ->
      ((s, d) => Privacy.generalizationLadder(s, d)),
    "q382_source_heavy_hitters" ->
      ((s, d) => Sketch.sourceHeavyHitters(s, d)),
    "q383_quality_dup_interaction" ->
      ((s, d) => Pipeline.qualityDupInteraction(s, d)),
    "q384_exact_substr"     -> ((s, d) => Dedup.exactSubstr(s, d)),
    "q385_stream_ivf_index" -> ((s, d) => Similarity.streamIvfIndex(s, d)),
    "q386_jpeg_decode"      -> ((s, d) => Multimodal.jpegDecode(s, d)),
    "q387_kn_trigram_lm"    -> ((s, d) => TextAnalysis.knTrigramLm(s, d)),
    "q388_nb_langid"        -> ((s, d) => TextAnalysis.naiveBayesLangId(s, d)),
    "q389_rbo"              -> ((s, d) => Eval.rbo(s, d)),
    "q390_ari_label_cell"   -> ((s, d) => Eval.ariLabelCell(s, d)),
    "q391_mann_whitney"     -> ((s, d) => Eval.mannWhitney(s, d)),
    "q392_codec_dhash"      -> ((s, d) => Multimodal.codecDhashStability(s, d)),
    "q393_unimax_allocation" -> ((s, d) => Pipeline.unimaxAllocation(s, d)),
    "q394_hard_negatives"   -> ((s, d) => Similarity.hardNegatives(s, d)),
    "q395_selector_agreement" ->
      ((s, d) => Pipeline.selectorAgreement(s, d)),
    "q396_rouge_pairs"      -> ((s, d) => Dedup.rougePairs(s, d)),
    "q397_positional_dup"   -> ((s, d) => Dedup.positionalDupProfile(s, d)),
    "q398_burstiness"       -> ((s, d) => TextAnalysis.burstiness(s, d)),
    "q399_monotone_audit"   -> ((s, d) => Eval.monotoneAudit(s, d)),
    "q400_curate_v2"        -> ((s, d) => Pipeline.curateV2(s, d)),
    "q401_stream_nb_langid" -> ((s, d) => TextAnalysis.streamNbLangId(s, d)),
    "q402_mase"             -> ((s, d) => Events.mase(s, d)),
    "q403_brier_decomposition" ->
      ((s, d) => Eval.brierDecomposition(s, d)),
    "q404_chao1"            -> ((s, d) => TextAnalysis.chao1(s, d)),
    "q405_good_turing"      -> ((s, d) => TextAnalysis.goodTuring(s, d)),
    "q406_lognormal_fit"    -> ((s, d) => TextAnalysis.lognormalFit(s, d)),
    "q407_longest_shared_span" ->
      ((s, d) => Dedup.longestSharedSpan(s, d)),
    "q408_youden_cut"       -> ((s, d) => Eval.youdenCut(s, d)),
    "q409_wav_decode"       -> ((s, d) => Multimodal.wavDecode(s, d)),
    "q410_unigram_train"    -> ((s, d) => TextAnalysis.unigramTrain(s, d)),
    "q411_unigram_apply"    -> ((s, d) => TextAnalysis.unigramApply(s, d)),
    "q412_stream_exact_substr" ->
      ((s, d) => Dedup.streamExactSubstr(s, d)),
    "q413_wav_energy"       -> ((s, d) => Multimodal.wavEnergy(s, d)),
    "q414_wav_fingerprint"  -> ((s, d) => Multimodal.wavFingerprint(s, d)),
    "q415_wav_resample"     -> ((s, d) => Multimodal.wavResample(s, d)),
    "q416_cliffs_delta"     -> ((s, d) => Eval.cliffsDelta(s, d)),
    "q417_average_precision" ->
      ((s, d) => Eval.averagePrecision(s, d)),
    "q418_wav_quantize_dhash" ->
      ((s, d) => Multimodal.wavQuantizeDhash(s, d)),
    "q419_stream_wav_stats" -> ((s, d) => Multimodal.streamWavStats(s, d)),
    "q420_wav_neardup"      -> ((s, d) => Multimodal.wavNearDup(s, d)),
    "q421_adamic_adar"      -> ((s, d) => Relational.adamicAdar(s, d)),
    "q422_bloom_planner"    -> ((s, d) => Sketch.bloomPlanner(s, d)),
    "q423_stream_unigram_apply" ->
      ((s, d) => TextAnalysis.streamUnigramApply(s, d)),
    "q424_holt_forecast"    -> ((s, d) => Events.holtForecast(s, d)),
    "q425_chunked_ttr"      -> ((s, d) => TextAnalysis.chunkedTtr(s, d)),
    "q426_ivf_balance"      -> ((s, d) => Similarity.ivfBalance(s, d)),
    "q427_cms_planner"      -> ((s, d) => Sketch.cmsPlanner(s, d)),
    "q428_wav_gain"         -> ((s, d) => Multimodal.wavGain(s, d)),
    "q429_y4m_decode"       -> ((s, d) => Multimodal.y4mDecode(s, d)),
    "q430_frame_sample"     -> ((s, d) => Multimodal.videoFrameSample(s, d)),
    "q431_video_motion"     -> ((s, d) => Multimodal.videoMotion(s, d)),
    "q432_stream_y4m_stats" -> ((s, d) => Multimodal.streamY4mStats(s, d)),
    "q433_video_neardup"    -> ((s, d) => Multimodal.videoNearDup(s, d)),
    "q434_theils_u"         -> ((s, d) => Eval.theilsU(s, d)),
    "q435_stream_video_fp"  -> ((s, d) => Multimodal.streamVideoFp(s, d)),
    "q436_kruskal_wallis"   -> ((s, d) => Eval.kruskalWallis(s, d)),
    "q437_negbin_fit"       -> ((s, d) => TextAnalysis.negbinFit(s, d)),
    "q438_simpson_audit"    -> ((s, d) => Relational.simpsonAudit(s, d)),
    "q439_gumbel_tail"      -> ((s, d) => Events.gumbelTail(s, d)),
    "q440_mann_kendall"     -> ((s, d) => Events.mannKendall(s, d)),
    "q441_power_planner"    -> ((s, d) => Sketch.powerPlanner(s, d)),
    "q442_page_hinkley"     -> ((s, d) => Events.pageHinkley(s, d)),
    "q443_stream_page_hinkley" ->
      ((s, d) => StreamingOps.streamPageHinkley(s, d)),
    "q444_ljung_box"        -> ((s, d) => Events.ljungBox(s, d)),
    "q445_seasonal_strength" ->
      ((s, d) => Events.seasonalStrength(s, d)),
    "q446_conformal_interval" ->
      ((s, d) => Eval.conformalInterval(s, d)),
    "q447_stream_gumbel_tail" ->
      ((s, d) => StreamingOps.streamGumbelTail(s, d)),
    "q448_video_shots"      -> ((s, d) => Multimodal.videoShots(s, d)),
    "q449_theil_decomposition" ->
      ((s, d) => Relational.theilDecomposition(s, d)),
    "q450_copurchase_pagerank" ->
      ((s, d) => Relational.copurchasePageRank(s, d)),
    "q451_theil_hours"      -> ((s, d) => Events.theilHours(s, d)),
    "q452_stream_theil"     -> ((s, d) => StreamingOps.streamTheil(s, d)),
    "q453_salt_write_audit" -> ((s, d) => Bucketing.saltWriteAudit(s, d)),
    "q454_textrank_keywords" ->
      ((s, d) => TextAnalysis.textrankKeywords(s, d)),
    "q455_personalized_pagerank" ->
      ((s, d) => Relational.personalizedPageRank(s, d)),
    "q456_ccf_leadlag"      -> ((s, d) => Events.ccfLeadLag(s, d)),
    "q457_cohens_d"         -> ((s, d) => Eval.cohensD(s, d)),
    "q458_mcnemar"          -> ((s, d) => Eval.mcnemar(s, d)),
    "q459_bmp_decode"       -> ((s, d) => Multimodal.bmpDecode(s, d)),
    "q460_wav_clipping"     -> ((s, d) => Multimodal.wavClipping(s, d)),
    "q461_jpeg_markers"     -> ((s, d) => Multimodal.jpegMarkers(s, d)),
    "q462_hurst_rs"         -> ((s, d) => Events.hurstRs(s, d)),
    "q463_welch_t"          -> ((s, d) => Eval.welchT(s, d)),
    "q464_anova_f"          -> ((s, d) => Eval.anovaF(s, d)),
    "q465_cramers_v"        -> ((s, d) => Eval.cramersV(s, d)),
    "q466_ece"              -> ((s, d) => Eval.ece(s, d)),
    "q467_dp_composition"   ->
      ((s, d) => Privacy.dpCompositionPlanner(s, d)),
    "q468_lorenz_deciles"   -> ((s, d) => Relational.lorenzDeciles(s, d)),
    "q469_blocking_quality" -> ((s, d) => Dedup.blockingQuality(s, d)),
    "q470_neyman_allocation" ->
      ((s, d) => Sampling.neymanAllocation(s, d)),
    "q471_stream_salt_audit" ->
      ((s, d) => StreamingOps.streamSaltAudit(s, d)),
    "q472_wordpiece_train"  ->
      ((s, d) => TextAnalysis.wordpieceTrain(s, d)),
    "q473_wordpiece_apply"  ->
      ((s, d) => TextAnalysis.wordpieceApply(s, d)),
    "q474_tokenizer_compare" ->
      ((s, d) => TextAnalysis.tokenizerCompare(s, d)),
    "q475_bh_fdr"           -> ((s, d) => Eval.bhFdr(s, d)),
    "q476_incremental_pagerank" ->
      ((s, d) => Relational.incrementalPageRank(s, d)),
    "q477_weighted_pagerank" ->
      ((s, d) => Relational.weightedPageRank(s, d)),
    "q478_graph_ann_beam" ->
      ((s, d) => Similarity.graphAnnBeam(s, d)),
    "q479_copurchase_communities" ->
      ((s, d) => Relational.copurchaseCommunities(s, d)),
    "q480_stream_incr_pagerank" ->
      ((s, d) => StreamingOps.streamIncrementalPageRank(s, d)),
  )

  /** The q411 unigram-apply oracle — also the q423 gate verbatim
    * (the maintained holdout vocabulary must land exactly the batch
    * aggregate — the q388/q401 discipline). */
  private lazy val unigramApplyOracle: String =
    s"""WITH RECURSIVE $unigramTrainCtes,
        |hw AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS freq FROM (
        |   SELECT lang, unnest(string_split(text, ' ')) AS w
        |   FROM documents WHERE doc_id % 2 = 1) t
        |  WHERE len(w) >= 1 GROUP BY 1, 2),
        |hwd AS (SELECT DISTINCT w FROM hw),
        |hp AS (SELECT w, unnest(range(len(w))) + 1 AS pos FROM hwd),
        |hcand AS (SELECT hp.w, hp.pos, l.l,
        |  substr(hp.w, hp.pos, l.l) AS sub
        | FROM hp CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS l) l
        | WHERE hp.pos + l.l - 1 <= len(hp.w)),
        |ga AS (SELECT c.w, c.pos,
        |  coalesce(max(CASE WHEN v.piece IS NOT NULL THEN c.l END), 1)
        |   AS bl
        | FROM hcand c LEFT JOIN vf v ON v.piece = c.sub GROUP BY 1, 2),
        |ka AS (SELECT w, 1 AS pos, 0 AS np FROM hwd
        | UNION ALL
        | SELECT k.w, k.pos + g.bl, k.np + 1
        | FROM ka k JOIN ga g ON g.w = k.w AND g.pos = k.pos),
        |npw AS (SELECT w, CAST(max(np) AS BIGINT) AS n_pieces
        | FROM ka GROUP BY 1)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_vocab,
        | CAST(sum(freq) AS BIGINT) AS n_words,
        | CAST(sum(freq * len(w)) AS BIGINT) AS n_chars,
        | CAST(sum(freq * n_pieces) AS BIGINT) AS n_pieces,
        | CAST(sum(freq * n_pieces) * 1000000 // sum(freq) AS BIGINT)
        |  AS pieces_per_word_micro,
        | CAST(sum(freq * len(w)) * 1000000
        |   // nullif(sum(freq * n_pieces), 0) AS BIGINT)
        |  AS chars_per_piece_micro
        |FROM hw JOIN npw USING (w) GROUP BY lang""".stripMargin

  /** The q409 WAV-decode oracle — also the q419 gate verbatim
    * (decode stats are a pure per-blob function, so the streamed
    * result equals batch — the q388/q401 discipline). */
  private val wavDecodeOracle: String =
    """WITH d AS (SELECT doc_id, doc_id % 2 + 1 AS channels,
        |  doc_id % 400 + 50 AS frames,
        |  8000 + (doc_id % 4) * 4000 AS rate
        | FROM documents),
        |fr AS (SELECT doc_id, channels, frames, rate,
        |  unnest(range(frames)) AS f FROM d),
        |sm AS (SELECT doc_id, channels, frames, rate, f, c,
        |  (doc_id * 31 + f * 17 + c * 7919) % 65536 - 32768 AS v
        | FROM fr CROSS JOIN (SELECT unnest(range(2)) AS c) cc
        | WHERE c < channels),
        |st AS (SELECT doc_id, CAST(max(rate) AS BIGINT) AS sample_rate,
        |  CAST(max(channels) AS BIGINT) AS n_channels,
        |  CAST(max(frames) AS BIGINT) AS n_frames,
        |  CAST(sum(v) AS BIGINT) AS sum_samples,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq
        | FROM sm GROUP BY 1),
        |zc AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN (v < 0) <> (pv < 0) THEN 1 ELSE 0 END)
        |   AS BIGINT) AS zero_cross_ch0
        | FROM (SELECT doc_id, f, v, lag(v) OVER (
        |    PARTITION BY doc_id ORDER BY f) AS pv
        |   FROM sm WHERE c = 0) t
        | WHERE pv IS NOT NULL GROUP BY 1)
        |SELECT st.doc_id, sample_rate, n_channels, n_frames,
        | sum_samples, sum_sq, zero_cross_ch0
        |FROM st JOIN zc USING (doc_id)""".stripMargin

  /** The q429 Y4M-decode oracle — also the q432 gate verbatim
    * (decode stats are a pure per-blob function, so the streamed
    * result equals batch — the q419 argument). */
  private val y4mDecodeOracle: String =
    """WITH d AS (SELECT doc_id, 4 + (doc_id % 3) * 2 AS w,
        |  4 + (doc_id % 2) * 2 AS h, doc_id % 12 + 4 AS frames,
        |  24 + doc_id % 2 AS fps_num FROM documents),
        |fr AS (SELECT doc_id, w, h, frames, fps_num,
        |  unnest(range(frames)) AS f FROM d),
        |pi AS (SELECT doc_id, w, h, f, unnest(range(w * h)) AS i
        | FROM fr),
        |px AS (SELECT doc_id, pp.p,
        |  (doc_id * 31 + f * 17 + pp.p * 101 + i * 5) % 256 AS v
        | FROM pi CROSS JOIN (SELECT unnest(range(3)) AS p) pp),
        |st AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN p = 0 THEN v END) AS BIGINT) AS y_sum,
        |  CAST(sum(CASE WHEN p = 0 THEN v * v END) AS BIGINT)
        |   AS y_sum_sq,
        |  CAST(min(CASE WHEN p = 0 THEN v END) AS BIGINT) AS y_min,
        |  CAST(max(CASE WHEN p = 0 THEN v END) AS BIGINT) AS y_max,
        |  CAST(sum(CASE WHEN p = 1 THEN v END) AS BIGINT) AS u_sum,
        |  CAST(sum(CASE WHEN p = 2 THEN v END) AS BIGINT) AS v_sum
        | FROM px GROUP BY 1)
        |SELECT d.doc_id, CAST(w AS BIGINT) AS width,
        | CAST(h AS BIGINT) AS height,
        | CAST(frames AS BIGINT) AS n_frames,
        | CAST(fps_num AS BIGINT) AS fps_num,
        | y_sum, y_sum_sq, y_min, y_max, u_sum, v_sum
        |FROM d JOIN st USING (doc_id)""".stripMargin

  /** The q433 video near-dup oracle — also the q435 gate verbatim
    * (the streamed fingerprint store must land exactly the batch
    * retrieval — the q412/q423 store-reuse discipline). */
  private val videoNearDupOracle: String =
    """WITH ids AS (SELECT doc_id AS id, doc_id AS src
        |  FROM documents
        | UNION ALL
        | SELECT doc_id + 10000000, doc_id FROM documents
        | WHERE doc_id % 10 = 0),
        |d AS (SELECT id, src, 4 + (src % 3) * 2 AS w,
        |  4 + (src % 2) * 2 AS h, src % 12 + 4 AS frames FROM ids),
        |fr AS (SELECT id, src, w, h, unnest(range(frames)) AS f
        | FROM d),
        |pi AS (SELECT id, src, f, unnest(range(w * h)) AS i FROM fr),
        |ys AS (SELECT id, f,
        |  sum((src * 31 + f * 17 + i * 5) % 256) AS ysum
        | FROM pi GROUP BY 1, 2),
        |p AS (SELECT id, f, ysum, lag(ysum) OVER (
        |   PARTITION BY id ORDER BY f) AS yp FROM ys),
        |fp AS (SELECT id, string_agg(CASE WHEN ysum > yp THEN '1'
        |    ELSE '0' END, '' ORDER BY f) AS bits
        | FROM p WHERE yp IS NOT NULL GROUP BY 1),
        |fpn AS (SELECT id, bits, CAST(len(bits) AS BIGINT) AS nb
        | FROM fp WHERE len(bits) >= 4),
        |bands AS (SELECT id, bits, nb, b AS band,
        |  substr(bits, CAST(b * nb // 4 AS INT) + 1,
        |    CAST((b + 1) * nb // 4 - b * nb // 4 AS INT)) AS slice
        | FROM fpn CROSS JOIN (SELECT unnest(range(4)) AS b) bb),
        |cand AS (SELECT DISTINCT a.id AS d1, b.id AS d2,
        |  a.bits AS b1, b.bits AS b2, a.nb
        | FROM bands a JOIN bands b ON a.nb = b.nb AND a.band = b.band
        |  AND a.slice = b.slice AND a.id < b.id),
        |h AS (SELECT d1, d2, nb AS n_bits,
        |  CAST(len(list_filter(range(nb), i ->
        |    substr(b1, CAST(i AS INT) + 1, 1)
        |     <> substr(b2, CAST(i AS INT) + 1, 1))) AS BIGINT)
        |   AS hamming
        | FROM cand)
        |SELECT d1, d2, n_bits, hamming FROM h
        |WHERE hamming <= 1""".stripMargin

  /** The q442 Page-Hinkley oracle — also the q443 gate verbatim
    * (the streamed hourly histogram must land exactly the batch
    * one — the q364/q369 live-state discipline). */
  private val pageHinkleyOracle: String =
    """WITH hourly AS (SELECT epoch_us(ts) // 3600000000 AS h,
        |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |w AS (SELECT h, x,
        |  count(*) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED
        |   PRECEDING AND CURRENT ROW) AS i,
        |  sum(x) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED
        |   PRECEDING AND CURRENT ROW) AS cum FROM hourly),
        |d AS (SELECT h, x, x - cum // i AS dev FROM w),
        |mt AS (SELECT h, x, sum(dev) OVER (ORDER BY h ROWS BETWEEN
        |   UNBOUNDED PRECEDING AND CURRENT ROW) AS m_t FROM d),
        |f AS (SELECT h, x, m_t, min(m_t) OVER (ORDER BY h ROWS
        |   BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_min
        | FROM mt)
        |SELECT CAST(h AS BIGINT) AS h, x, CAST(m_t AS BIGINT) AS m_t,
        | CAST(m_t - m_min AS BIGINT) AS ph,
        | m_t - m_min > 50 AS alarm
        |FROM f""".stripMargin

  /** The q453 salt-audit oracle — also the q471 gate verbatim (the
    * streamed (salt, hour) grid must land exactly the batch one —
    * the q364/q369 live-state discipline). */
  private val saltAuditOracle: String =
    """WITH c AS (SELECT user_id % 16 AS salt,
      |  epoch_us(ts) // 3600000000 AS h,
      |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
      |ps AS (SELECT salt, CAST(sum(n) AS BIGINT) AS n_events,
      |  CAST(max(n) AS BIGINT) AS peak_hour_n FROM c GROUP BY 1),
      |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS n_total FROM ps)
      |SELECT CAST(salt AS BIGINT) AS salt, n_events,
      | CAST(CAST(n_events AS HUGEINT) * 16 * 1000000 // n_total
      |  AS BIGINT) AS load_factor_ppm,
      | peak_hour_n,
      | CAST(CAST(peak_hour_n AS HUGEINT) * 1000000 // n_events
      |  AS BIGINT) AS peak_share_ppm,
      | CAST(CAST(n_events AS HUGEINT) * 16 * 1000000 // n_total
      |  AS BIGINT) > 1250000 AS hot
      |FROM ps, t""".stripMargin

  /** The q451 Theil-concentration oracle — also the q452 gate
    * verbatim (the streamed (event_type, hour) grid must land
    * exactly the batch one — the q364/q369 live-state discipline). */
  private val theilHoursOracle: String =
    """WITH cells AS (SELECT event_type,
      |  epoch_us(ts) // 3600000000 AS h,
      |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
      |  CAST(sum(x) AS BIGINT) AS total FROM cells GROUP BY 1),
      |c AS (SELECT cells.event_type,
      |  CAST(x AS HUGEINT) * CAST(round(ln(
      |    CAST(x AS DOUBLE) * n_hours / total) * 1e6) AS BIGINT) AS c
      | FROM cells JOIN tot USING (event_type))
      |SELECT t.event_type, t.n_hours, t.total,
      | CAST(sum(c.c) // t.total AS BIGINT) AS t_micro
      |FROM c JOIN tot t USING (event_type)
      |GROUP BY 1, 2, 3""".stripMargin

  /** The q439 Gumbel-tail oracle — also the q447 gate verbatim
    * (the streamed block-maxima grid must land exactly the batch
    * one — a max only grows under replay). */
  private val gumbelTailOracle: String =
    """WITH b AS (SELECT event_type,
        |  epoch_us(ts) // 3600000000 AS h,
        |  max(CAST(round(value * 1000) AS BIGINT)) AS m
        | FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(sum(m) AS BIGINT) AS s1,
        |  sum(CAST(m AS HUGEINT) * m) AS s2
        | FROM b GROUP BY 1 HAVING count(*) >= 2),
        |f AS (SELECT event_type, n_blocks,
        |  CAST(CAST(s1 AS HUGEINT) // n_blocks AS BIGINT)
        |   AS mean_milli,
        |  CAST(round(sqrt(CAST(CAST(n_blocks AS HUGEINT) * s2
        |     - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
        |    / (CAST(n_blocks AS DOUBLE) * (n_blocks - 1))))
        |   AS BIGINT) AS s_milli
        | FROM a),
        |g AS (SELECT *, s_milli * 2449490 // 3141593 AS beta_milli
        | FROM f),
        |h AS (SELECT *,
        |  mean_milli - 577216 * beta_milli // 1000000 AS mu_milli
        | FROM g)
        |SELECT event_type, n_blocks, mean_milli, s_milli,
        | CAST(beta_milli AS BIGINT) AS beta_milli,
        | CAST(mu_milli AS BIGINT) AS mu_milli,
        | CAST(mu_milli + beta_milli * 4605170 // 1000000 AS BIGINT)
        |  AS ret100_milli
        |FROM h""".stripMargin

  /** The q384 ExactSubstr oracle — also the q412 gate verbatim: the
    * streamed ownership frame must land exactly the batch
    * computation (the q388/q401 oracle-reuse discipline). */
  private val exactSubstrOracle: String =
    """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |gp AS (SELECT doc_id, unnest(range(len(tk) - 4)) AS pos, tk
        | FROM tt WHERE len(tk) >= 5),
        |g2 AS (SELECT doc_id, pos,
        |  tk[pos+1] || ' ' || tk[pos+2] || ' ' || tk[pos+3] || ' '
        |   || tk[pos+4] || ' ' || tk[pos+5] AS g FROM gp),
        |own AS (SELECT g, CAST(count(*) AS BIGINT) AS docs_with,
        |  min(doc_id) AS owner
        | FROM (SELECT DISTINCT doc_id, g FROM g2) GROUP BY 1),
        |cut AS (SELECT doc_id, pos FROM g2 JOIN own USING (g)
        | WHERE docs_with >= 2 AND owner <> doc_id),
        |nocc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut_occ
        | FROM cut GROUP BY 1),
        |cov AS (SELECT DISTINCT doc_id, pos + off AS p
        | FROM cut CROSS JOIN (SELECT unnest(range(5)) AS off) o),
        |isl AS (SELECT doc_id, p,
        |  p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        | FROM cov),
        |sp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut_tokens,
        |  CAST(count(DISTINCT grp) AS BIGINT) AS n_cut_spans
        | FROM isl GROUP BY 1)
        |SELECT tt.doc_id, CAST(len(tk) AS BIGINT) AS n_toks,
        | coalesce(n_cut_occ, 0) AS n_cut_occ,
        | coalesce(n_cut_spans, 0) AS n_cut_spans,
        | coalesce(n_cut_tokens, 0) AS n_cut_tokens,
        | (len(tk) - coalesce(n_cut_tokens, 0)) * 1000000
        |   // nullif(len(tk), 0) AS surviving_ppm
        |FROM tt LEFT JOIN nocc USING (doc_id)
        | LEFT JOIN sp USING (doc_id)""".stripMargin

  /** Shared q410/q411 oracle CTE chain: train-split word vocab,
    * seed vocabulary (singles + top-200 substrings), longest-match
    * walk 1 (recursive CTE — one deterministic path per word),
    * prune to 50 multis, walk 2, final counts `c2` and the frozen
    * vocabulary `vf`. */
  private val mannWhitneyOracle: String =
    """WITH sc AS (SELECT
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |   * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT)
        |   // 100000 AS b,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        | FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |bins AS (SELECT b, CAST(sum(pos) AS BIGINT) AS n1i,
        |  CAST(sum(1 - pos) AS BIGINT) AS n2i,
        |  CAST(count(*) AS BIGINT) AS ti FROM sc GROUP BY 1),
        |cum AS (SELECT *, coalesce(sum(n2i) OVER (ORDER BY b
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |  AS cum2 FROM bins),
        |agg AS (SELECT CAST(sum(n1i) AS BIGINT) AS n1,
        |  CAST(sum(n2i) AS BIGINT) AS n2,
        |  CAST(sum(CAST(n1i AS HUGEINT) * (2 * cum2 + n2i))
        |   AS BIGINT) AS u2x,
        |  sum(CAST(ti AS HUGEINT) * ti * ti - ti) AS tie
        | FROM cum)
        |SELECT n1, n2, u2x,
        | CAST(round(CAST(u2x - CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
        |  / (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
        |    * (CAST(n1 + n2 + 1 AS DOUBLE) - CAST(tie AS DOUBLE)
        |      / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))))
        |  * 1e6) AS BIGINT) AS z_micro
        |FROM agg""".stripMargin

  private val kruskalWallisOracle: String =
    """WITH sc AS (SELECT lang AS g,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |   * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT)
        |   // 100000 AS b
        | FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |cells AS (SELECT g, b, CAST(count(*) AS BIGINT) AS n_gb
        | FROM sc GROUP BY 1, 2),
        |bt AS (SELECT b, CAST(sum(n_gb) AS BIGINT) AS t
        | FROM cells GROUP BY 1),
        |btc AS (SELECT b, t, coalesce(sum(t) OVER (ORDER BY b
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |  AS cum FROM bt),
        |mr AS (SELECT b, 2 * cum + t + 1 AS mr_half FROM btc),
        |gr AS (SELECT g, CAST(sum(n_gb) AS BIGINT) AS n_g,
        |  sum(CAST(n_gb AS HUGEINT) * mr_half) AS r_half
        | FROM cells JOIN mr USING (b) GROUP BY 1),
        |gt AS (SELECT g, n_g, r_half, r_half // n_g AS q,
        |  r_half - (r_half // n_g) * n_g AS rem FROM gr),
        |gterm AS (SELECT g, n_g,
        |  q * r_half + rem * r_half // n_g AS term FROM gt),
        |tie AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tt
        | FROM btc),
        |agg AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_total,
        |  CAST(count(*) AS BIGINT) AS k_groups, sum(term) AS a4
        | FROM gterm),
        |f AS (SELECT n_total, k_groups, a4,
        |  CAST(3000000 AS HUGEINT) * a4
        |   // (CAST(n_total AS HUGEINT) * (n_total + 1))
        |   - CAST(3000000 AS HUGEINT) * (n_total + 1) AS h_mi,
        |  tt * 1000000 // nullif(CAST(n_total AS HUGEINT) * n_total
        |   * n_total - n_total, 0) AS t_ppm
        | FROM agg, tie)
        |SELECT n_total, k_groups, CAST(a4 AS BIGINT) AS a4,
        | CAST(t_ppm AS BIGINT) AS t_ppm,
        | CAST(h_mi AS BIGINT) AS h_micro,
        | CAST(greatest(h_mi, 0) * 1000000
        |  // nullif(1000000 - t_ppm, 0) AS BIGINT) AS h_adj_micro
        |FROM f""".stripMargin

  private val mannKendallOracle: String =
    """WITH hourly AS (SELECT epoch_us(ts) // 3600000000 AS h,
        |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |s AS (SELECT CAST(coalesce(sum(CAST(sign(b.x - a.x)
        |    AS BIGINT)), 0) AS BIGINT) AS s_stat
        | FROM hourly a JOIN hourly b ON b.h > a.h),
        |t AS (SELECT coalesce(sum(CAST(t AS HUGEINT) * (t - 1)
        |    * (2 * t + 5)), 0) AS tie18
        | FROM (SELECT count(*) AS t FROM hourly GROUP BY x)),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_hours FROM hourly),
        |f AS (SELECT n_hours, s_stat,
        |  CAST(n_hours AS HUGEINT) * (n_hours - 1)
        |   * (2 * n_hours + 5) - tie18 AS var18
        | FROM n, s, t)
        |SELECT n_hours, s_stat, CAST(var18 AS BIGINT) AS var18,
        | CAST(round((s_stat - sign(s_stat)) * 1e6
        |  / sqrt(CAST(nullif(var18, 0) AS DOUBLE) / 18.0)) AS BIGINT)
        |  AS z_micro,
        | CAST(sign(s_stat) AS BIGINT) AS trend_sign
        |FROM f""".stripMargin

  private val ljungBoxOracle: String =
    """WITH hourly AS (SELECT epoch_us(ts) // 3600000000 AS h,
        |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS s1 FROM hourly),
        |dv AS (SELECT h, n, n * x - s1 AS dev FROM hourly, st),
        |dn AS (SELECT sum(CAST(dev AS HUGEINT) * dev) AS den FROM dv),
        |pr AS (SELECT l.lag, max(a.n) AS n,
        |  sum(CAST(a.dev AS HUGEINT) * b.dev) AS num
        | FROM dv a CROSS JOIN (SELECT unnest(range(1, 11)) AS lag) l
        |  JOIN dv b ON b.h = a.h + l.lag
        | GROUP BY 1),
        |rm AS (SELECT lag, n,
        |  CAST(abs(num) * 1000000 // nullif(den, 0) AS BIGINT)
        |   AS r_abs_micro
        | FROM pr, dn),
        |tm AS (SELECT lag, n,
        |  CAST(CAST(n AS HUGEINT) * (n + 2) * r_abs_micro
        |    * r_abs_micro // ((n - lag) * 1000000) AS BIGINT)
        |   AS term_micro
        | FROM rm)
        |SELECT max(n) AS n_hours, CAST(count(*) AS BIGINT) AS k_lags,
        | (SELECT CAST(den AS BIGINT) FROM dn) AS den,
        | CAST(sum(term_micro) AS BIGINT) AS q_micro,
        | CAST(sum(term_micro) AS BIGINT) > 18307000 AS reject_white
        |FROM tm""".stripMargin

  private val mcnemarOracle: String =
    """WITH sc AS (SELECT
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS s_tok,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |   AS s_uniq
        | FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN s_tok >= 50 AND NOT (s_uniq * 2 >= s_tok)
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN NOT (s_tok >= 50) AND s_uniq * 2 >= s_tok
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_c FROM sc),
        |x AS (SELECT *, CAST(
        |   CAST(greatest(abs(n_b - n_c) - 1, 0) AS HUGEINT)
        |   * greatest(abs(n_b - n_c) - 1, 0) * 1000
        |   // nullif(n_b + n_c, 0) AS BIGINT) AS chi2_milli FROM f)
        |SELECT n_docs, n_b, n_c, chi2_milli,
        | coalesce(chi2_milli > 3841, false) AS reject_symmetry
        |FROM x""".stripMargin

  private val welchTOracle: String =
    """WITH sc AS (SELECT
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        | FROM documents),
        |g1 AS (SELECT CAST(count(*) AS BIGINT) AS n1,
        |  CAST(sum(x) AS BIGINT) AS s1a,
        |  sum(CAST(x AS HUGEINT) * x) AS s2a FROM sc WHERE pos = 1),
        |g2 AS (SELECT CAST(count(*) AS BIGINT) AS n2,
        |  CAST(sum(x) AS BIGINT) AS s1b,
        |  sum(CAST(x AS HUGEINT) * x) AS s2b FROM sc WHERE pos = 0),
        |se AS (SELECT n1, n2, s1a, s1b,
        |  (CAST(s2a AS DOUBLE)
        |    - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / n1)
        |   / (CAST(n1 AS DOUBLE) * (n1 - 1)) AS sea,
        |  (CAST(s2b AS DOUBLE)
        |    - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / n2)
        |   / (CAST(n2 AS DOUBLE) * (n2 - 1)) AS seb
        | FROM g1, g2)
        |SELECT n1, n2,
        | CAST(round((CAST(s1a AS DOUBLE) / n1
        |    - CAST(s1b AS DOUBLE) / n2)
        |  / sqrt(sea + seb) * 1e6) AS BIGINT) AS t_micro,
        | CAST(round((sea + seb) * (sea + seb)
        |  / (sea * sea / (n1 - 1) + seb * seb / (n2 - 1)) * 1e3)
        |  AS BIGINT) AS df_milli
        |FROM se""".stripMargin

  private val anovaFOracle: String =
    """WITH g AS (SELECT lang AS g, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS s1,
        |  sum(CAST(len(string_split(text, ' ')) AS HUGEINT)
        |   * len(string_split(text, ' '))) AS s2
        | FROM documents GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
        |  CAST(sum(n) AS BIGINT) AS n_total,
        |  CAST(sum(s1) AS BIGINT) AS gs1, sum(s2) AS gs2,
        |  sum(CAST(s1 AS HUGEINT) * s1 // n) AS a FROM g),
        |f AS (SELECT k_groups, n_total,
        |  a - CAST(gs1 AS HUGEINT) * gs1 // n_total AS ssb,
        |  gs2 - a AS ssw FROM a)
        |SELECT k_groups, n_total, CAST(ssb AS BIGINT) AS ssb,
        | CAST(ssw AS BIGINT) AS ssw,
        | CAST(round((CAST(ssb AS DOUBLE) / (k_groups - 1))
        |  / (CAST(ssw AS DOUBLE) / (n_total - k_groups)) * 1e6)
        |  AS BIGINT) AS f_micro
        |FROM f""".stripMargin

  private val copurchasePageRankOracle: String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        | FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT pa AS v, pb AS u FROM e
        | UNION SELECT pb, pa FROM e),
        |deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY u),
        |s0 AS (SELECT u AS v, CAST(1000000 AS BIGINT) AS s FROM deg),
        |${(1 to 5).map { i =>
          val prev = if (i == 1) "s0" else s"it${i - 1}"
          s"""it$i AS (SELECT a.v AS v,
             |  CAST(150000 + (850 * sum(p.s // d.deg)) // 1000
             |   AS BIGINT) AS s
             | FROM adj a JOIN $prev p ON a.u = p.v
             |  JOIN deg d ON a.u = d.u
             | GROUP BY a.v)""".stripMargin
        }.mkString(",\n")}
        |SELECT v AS part, s AS score_scaled FROM it5""".stripMargin

  /** One WordPiece training round as DuckDB CTEs (q472–q474): pair
    * counts, symbol counts, the HUGEINT likelihood score
    * n·10¹² // (c_l·c_r), argmax (score desc, l, r), greedy collapse
    * with the merged symbol l || substr(r, 3) — the continuation
    * prefix is consumed by the merge, l keeps its namespace. */
  private def wpRoundCtes(i: Int): String =
    s"""wpp$i AS (SELECT p['l'] AS l, p['r'] AS r, sum(freq) AS n FROM (
       |    SELECT unnest(list_transform(range(1, len(syms)),
       |      i -> {'l': syms[i], 'r': syms[i+1]})) AS p, freq FROM wpw${i - 1})
       |  GROUP BY 1, 2),
       |wpc$i AS (SELECT sym, sum(freq) AS c FROM (
       |    SELECT unnest(syms) AS sym, freq FROM wpw${i - 1}) GROUP BY 1),
       |wpb$i AS (SELECT p.l, p.r, p.n,
       |  CAST(CAST(p.n AS HUGEINT) * 1000000000000
       |    // (CAST(cl.c AS HUGEINT) * cr.c) AS BIGINT) AS score
       |  FROM wpp$i p JOIN wpc$i cl ON cl.sym = p.l
       |   JOIN wpc$i cr ON cr.sym = p.r
       |  ORDER BY score DESC, p.l, p.r LIMIT 1),
       |wpw$i AS MATERIALIZED (
       |  SELECT list_reduce(list_transform(syms, y -> [y]),
       |    (acc, x) -> CASE WHEN acc[len(acc)] = l AND x[1] = r
       |      THEN list_concat(acc[1:len(acc)-1], [l || substr(r, 3)])
       |      ELSE list_concat(acc, x) END) AS syms, freq
       |  FROM wpw${i - 1} CROSS JOIN wpb$i)""".stripMargin

  /** The WordPiece train CTEs (even doc_id split, 4 rounds) + the
    * frozen two-namespace vocabulary `wpvf` — shared by q472 (train
    * report), q473 (holdout apply) and q474 (family comparison). */
  private lazy val wordpieceTrainCtes: String =
    s"""wpw0 AS MATERIALIZED (
       |  SELECT list_transform(range(1, len(cs) + 1),
       |    i -> CASE WHEN i = 1 THEN cs[i] ELSE '##' || cs[i] END) AS syms,
       |   freq
       |  FROM (SELECT string_split(w, '') AS cs,
       |    CAST(count(*) AS BIGINT) AS freq
       |   FROM (SELECT unnest(string_split(text, ' ')) AS w
       |     FROM documents WHERE doc_id % 2 = 0) t
       |   WHERE len(w) >= 1 GROUP BY w) ws),
       |${(1 to 4).map(wpRoundCtes).mkString(",\n")},
       |wpvf AS (SELECT DISTINCT piece FROM (
       |  SELECT unnest(syms) AS piece FROM wpw0
       |  UNION ALL SELECT l || substr(r, 3) FROM wpb1
       |  UNION ALL SELECT l || substr(r, 3) FROM wpb2
       |  UNION ALL SELECT l || substr(r, 3) FROM wpb3
       |  UNION ALL SELECT l || substr(r, 3) FROM wpb4) u)""".stripMargin

  /** One BPE training round as DuckDB CTEs with bp-prefixed names —
    * the q275 template re-prefixed so q474 can run it next to the
    * unigram and WordPiece CTEs in one statement. */
  private def bpeRoundCtes(i: Int): String =
    s"""bpp$i AS (SELECT p['l'] AS l, p['r'] AS r, sum(freq) AS n FROM (
       |    SELECT unnest(list_transform(range(1, len(syms)),
       |      i -> {'l': syms[i], 'r': syms[i+1]})) AS p, freq FROM bpw${i - 1})
       |  GROUP BY 1, 2),
       |bpb$i AS (SELECT l, r, n FROM bpp$i ORDER BY n DESC, l, r LIMIT 1),
       |bpw$i AS MATERIALIZED (
       |  SELECT list_reduce(list_transform(syms, y -> [y]),
       |    (acc, x) -> CASE WHEN acc[len(acc)] = l AND x[1] = r
       |      THEN list_concat(acc[1:len(acc)-1], [l || r])
       |      ELSE list_concat(acc, x) END) AS syms, freq
       |  FROM bpw${i - 1} CROSS JOIN bpb$i)""".stripMargin

  private val unigramTrainCtes: String =
    """w0 AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w
      |    FROM documents WHERE doc_id % 2 = 0) t
      |  WHERE len(w) >= 1 GROUP BY 1),
      |wp AS (SELECT w, freq, unnest(range(len(w))) + 1 AS pos FROM w0),
      |sgl AS (SELECT DISTINCT substr(w, pos, 1) AS piece FROM wp),
      |mc AS (SELECT piece, sum(freq) AS n FROM (
      |   SELECT substr(wp.w, wp.pos, l.l) AS piece, wp.freq
      |   FROM wp CROSS JOIN (SELECT unnest([2, 3, 4]) AS l) l
      |   WHERE wp.pos + l.l - 1 <= len(wp.w)) t
      |  GROUP BY 1),
      |seed AS (SELECT piece FROM sgl UNION ALL
      | SELECT piece FROM (SELECT piece,
      |    row_number() OVER (ORDER BY n DESC, piece) AS rk FROM mc) z
      | WHERE rk <= 200),
      |cand AS (SELECT wp.w, wp.pos, l.l,
      |  substr(wp.w, wp.pos, l.l) AS sub
      | FROM wp CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS l) l
      | WHERE wp.pos + l.l - 1 <= len(wp.w)),
      |g1 AS (SELECT c.w, c.pos,
      |  coalesce(max(CASE WHEN v.piece IS NOT NULL THEN c.l END), 1)
      |   AS bl
      | FROM cand c LEFT JOIN seed v ON v.piece = c.sub GROUP BY 1, 2),
      |k1 AS (SELECT w, freq, 1 AS pos FROM w0
      | UNION ALL
      | SELECT k.w, k.freq, k.pos + g.bl
      | FROM k1 k JOIN g1 g ON g.w = k.w AND g.pos = k.pos),
      |c1 AS (SELECT substr(k.w, k.pos, g.bl) AS piece,
      |  sum(k.freq) AS n
      | FROM k1 k JOIN g1 g ON g.w = k.w AND g.pos = k.pos GROUP BY 1),
      |vf AS (SELECT piece FROM sgl UNION ALL
      | SELECT piece FROM (SELECT piece,
      |    row_number() OVER (ORDER BY n DESC, piece) AS rk
      |   FROM c1 WHERE len(piece) >= 2) z
      | WHERE rk <= 50),
      |g2 AS (SELECT c.w, c.pos,
      |  coalesce(max(CASE WHEN v.piece IS NOT NULL THEN c.l END), 1)
      |   AS bl
      | FROM cand c LEFT JOIN vf v ON v.piece = c.sub GROUP BY 1, 2),
      |k2 AS (SELECT w, freq, 1 AS pos FROM w0
      | UNION ALL
      | SELECT k.w, k.freq, k.pos + g.bl
      | FROM k2 k JOIN g2 g ON g.w = k.w AND g.pos = k.pos),
      |c2 AS (SELECT substr(k.w, k.pos, g.bl) AS piece,
      |  sum(k.freq) AS n
      | FROM k2 k JOIN g2 g ON g.w = k.w AND g.pos = k.pos GROUP BY 1)"""
      .stripMargin

  /** One FK-edge block of the q152 oracle — mirrors Relational.fkEdge. */
  private def fkEdgeSql(name: String, childTable: String, childKey: String,
      parentTable: String, parentKey: String): String =
    s"""SELECT '$name' AS fk,
      | CAST(coalesce(sum(c.n), 0) AS BIGINT) AS n_child_rows,
      | CAST(count(c.ck) AS BIGINT) AS n_child_keys,
      | CAST(coalesce(sum(CASE WHEN p.pk IS NULL THEN c.n END), 0) AS BIGINT)
      |   AS n_orphan_rows,
      | CAST(count(CASE WHEN p.pk IS NULL THEN c.ck END) AS BIGINT)
      |   AS n_orphan_keys,
      | CAST(count(p.pk) AS BIGINT) AS n_parents,
      | CAST(count(CASE WHEN c.ck IS NULL THEN p.pk END) AS BIGINT)
      |   AS n_unreferenced
      |FROM (SELECT $childKey AS ck, count(*) AS n FROM $childTable
      |   GROUP BY 1) c
      | FULL OUTER JOIN (SELECT $parentKey AS pk FROM $parentTable) p
      |  ON c.ck = p.pk""".stripMargin

  /** Shared oracle-SQL fragments (DuckDB dialect). */
  private val shinglesCte =
    """t AS (SELECT doc_id, list_distinct(list_transform(
      |   range(1, len(string_split(text,' '))-1),
      |   i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS sh
      | FROM documents)""".stripMargin
  private val quantCte =
    """n AS (SELECT vec_id, list_transform(embedding,
      |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
      | FROM embeddings),
      |m AS (SELECT vec_id, v,
      |   CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM n)""".stripMargin
  /** Hex→int over an arbitrary 8-hex-char SQL expression (hex8Sql's
    * strpos arithmetic, parametric on the hex source). */
  private def hexIntSql(e: String): String =
    s"""CAST(list_sum(list_transform(range(8), i ->
       |   CAST(strpos('0123456789abcdef',
       |     substr($e, CAST(i + 1 AS INTEGER), 1)) - 1 AS BIGINT)
       |   * (1::BIGINT << CAST((7 - i) * 4 AS INTEGER)))) AS BIGINT)""".stripMargin

  /** Parametric cosine between aliased (v, n2) column pairs — the
    * cosExpr shape for oracles joining arbitrary vector tables. */
  private def cosSql(av: String, an2: String, bv: String, bn2: String): String =
    s"""CAST(CAST(list_sum(list_transform(range(len($av)),
       |   i -> $av[i+1]*$bv[i+1])) AS BIGINT) AS DOUBLE)
       | / (sqrt(CAST($an2 AS DOUBLE)) * sqrt(CAST($bn2 AS DOUBLE)))""".stripMargin

  /** q224 oracle: the greedy MMR steps 2..k unrolled as CTE blocks
    * (pa1 seeds with the pure-relevance argmax; each block excludes
    * the picked set, takes max-sim against it, and argmaxes
    * λ·rel − (1−λ)·maxsim with the (score desc, id asc) order).
    * (1.0 - 0.7) is spelled as the SUBTRACTION, not 0.3 — the
    * double 1.0−0.7 ≠ the double 0.3, and Spark computes the
    * former. */
  private def mmrOracle(k: Int): String = {
    val steps = (2 to k).map { i =>
      val prev = s"pa${i - 1}"
      s"""ex$i AS (SELECT c.* FROM cand c LEFT JOIN $prev p
         | ON p.query_id = c.query_id AND p.cand_id = c.cand_id
         | WHERE p.cand_id IS NULL),
         |ms$i AS (SELECT e.query_id, e.cand_id,
         |  max(${cosSql("e.cv", "e.cn2", "p.cv", "p.cn2")}) AS maxsim
         | FROM ex$i e JOIN $prev p ON p.query_id = e.query_id GROUP BY 1, 2),
         |s$i AS (SELECT e.query_id, e.cand_id, e.cv, e.cn2,
         |  0.7*e.rel - (1.0 - 0.7)*mm.maxsim AS score
         | FROM ex$i e JOIN ms$i mm
         |  ON mm.query_id = e.query_id AND mm.cand_id = e.cand_id),
         |p$i AS (SELECT query_id, cand_id, cv, cn2, $i AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, cand_id) AS rn FROM s$i) t WHERE rn = 1),
         |pa$i AS (SELECT * FROM pa${i - 1} UNION ALL SELECT * FROM p$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $quantCte,
       |qs AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2 FROM m
       |  WHERE vec_id < 5),
       |cs AS (SELECT vec_id AS cand_id, v AS cv, n2 AS cn2 FROM m
       |  WHERE vec_id >= 5),
       |rels AS (SELECT query_id, cand_id, cv, cn2,
       |  ${cosSql("qv", "qn2", "cv", "cn2")} AS rel FROM qs CROSS JOIN cs),
       |cand AS (SELECT query_id, cand_id, cv, cn2, rel FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rel DESC, cand_id) AS rn FROM rels) t WHERE rn <= 20),
       |pa1 AS (SELECT query_id, cand_id, cv, cn2, 1 AS rank FROM (
       |  SELECT query_id, cand_id, cv, cn2, row_number() OVER (
       |    PARTITION BY query_id ORDER BY 0.7*rel DESC, cand_id) AS rn
       |  FROM cand) t WHERE rn = 1),
       |$steps
       |SELECT p.query_id, CAST(p.rank AS BIGINT) AS rank,
       | p.cand_id AS neighbor_id, round(c.rel, 4) AS rel_cosine
       |FROM pa$k p JOIN cand c
       | ON c.query_id = p.query_id AND c.cand_id = p.cand_id""".stripMargin
  }

  private val cosExpr =
    """CAST(CAST(list_sum(list_transform(range(len(a.v)),
      |   i -> a.v[i+1]*b.v[i+1])) AS BIGINT) AS DOUBLE)
      | / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))""".stripMargin
  /** The q38 IVF pipeline as oracle CTEs (quantize → per-label
    * centroids → nearest-cell assignment → nprobe=2 probe → scored
    * candidates `sc`) — shared by the q38 gate and the q155 recall
    * audit. */
  private val ivfScoreCtes =
    """q AS (SELECT vec_id, label, list_transform(embedding,
      |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
      | FROM embeddings),
      |m AS (SELECT vec_id, label, v,
      |  CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM q),
      |cu AS (SELECT label, unnest(v) AS x,
      |  generate_subscripts(v, 1) - 1 AS pos FROM q),
      |cs AS (SELECT label, pos, sum(x) AS sx, count(*) AS nv FROM cu GROUP BY 1, 2),
      |cl AS (SELECT label,
      |  list(CAST(trunc(CAST(sx AS DOUBLE) / nv) AS BIGINT) ORDER BY pos) AS cv
      | FROM cs GROUP BY label),
      |cn AS (SELECT label, cv,
      |  CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS cn2 FROM cl),
      |ac AS (SELECT m.vec_id, m.v, m.n2, cn.label,
      |  CAST(CAST(list_sum(list_transform(range(64), i -> m.v[i+1] * cn.cv[i+1])) AS BIGINT) AS DOUBLE)
      |   / (sqrt(CAST(m.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE))) AS ccos
      | FROM m, cn),
      |asg AS (SELECT vec_id, v, n2, cell FROM (SELECT vec_id, v, n2,
      |   label AS cell, row_number() OVER (PARTITION BY vec_id
      |     ORDER BY ccos DESC, label) AS rk FROM ac) t WHERE rk = 1),
      |pr AS (SELECT query_id, qv, qn2, cell FROM (SELECT vec_id AS query_id,
      |   v AS qv, n2 AS qn2, label AS cell, row_number() OVER (PARTITION BY vec_id
      |     ORDER BY ccos DESC, label) AS rk FROM ac WHERE vec_id < 5) t WHERE rk <= 2),
      |sc AS (SELECT pr.query_id, a.vec_id AS neighbor_id,
      |  CAST(CAST(list_sum(list_transform(range(64), i -> pr.qv[i+1] * a.v[i+1])) AS BIGINT) AS DOUBLE)
      |   / (sqrt(CAST(pr.qn2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE))) AS cosine
      | FROM pr JOIN asg a ON pr.cell = a.cell AND a.vec_id >= 5)""".stripMargin

  /** First 8 md5 hex nibbles of `e` as a BIGINT in [0, 2^32) —
    * mirrors Sampling.hashBucket exactly. */
  private def hex8Sql(e: String): String =
    s"""CAST(list_sum(list_transform(range(8), i ->
       |   CAST(strpos('0123456789abcdef',
       |     substr(md5($e), CAST(i + 1 AS INTEGER), 1)) - 1 AS BIGINT)
       |   * (1::BIGINT << CAST((7 - i) * 4 AS INTEGER)))) AS BIGINT)""".stripMargin

  /** BIGINT from `n` hex nibbles of an existing hex string `h`
    * starting at 1-based position `start` — the DuckDB mirror of
    * Spark's conv(substring(h, start, n), 16, 10). */
  private def hexNibblesSql(h: String, start: Int, n: Int): String =
    s"""CAST(list_sum(list_transform(range($n), i ->
       |   CAST(strpos('0123456789abcdef',
       |     substr($h, CAST(i + $start AS INTEGER), 1)) - 1 AS BIGINT)
       |   * (1::BIGINT << CAST((${n - 1} - i) * 4 AS INTEGER)))) AS BIGINT)""".stripMargin

  /** ±1 hyperplane component from md5 parity — mirrors
    * Similarity.planeSign exactly (first hex nibble of md5("p|i")). */
  private def planeSignSql(p: String, i: String): String =
    s"(CASE WHEN (strpos('0123456789abcdef', substr(md5(concat($p, '|', $i)), 1, 1)) - 1) % 2 = 0 THEN 1 ELSE -1 END)"
  /** Sign bit of quantized vector m.v against plane pp.p (dim 64). */
  private val planeBitSql =
    s"""CASE WHEN CAST(list_sum(list_transform(range(64), i ->
       |   m.v[i+1] * ${planeSignSql("pp.p", "i")})) AS BIGINT) > 0
       | THEN 1 ELSE 0 END""".stripMargin
  /** q24/q109 banding CTEs generated from the SAME constants the
    * Spark side uses (Similarity.DefaultNBands/DefaultBandBits), so
    * the gated banding and its oracle replay cannot drift. Band =
    * p // bandBits; key = big-endian sign bits. */
  private val embedBandCtes: String = {
    val nb = operators.Similarity.DefaultNBands
    val bb = operators.Similarity.DefaultBandBits
    s"""pb AS (SELECT m.vec_id, pp.p, $planeBitSql AS bit
       | FROM m, (SELECT unnest(range(${nb * bb})) AS p) pp),
       |bd AS (SELECT vec_id, p // $bb AS band,
       |  sum(bit * (1::BIGINT << CAST($bb - 1 - p % $bb AS INTEGER))) AS band_key
       | FROM pb GROUP BY 1, 2)""".stripMargin
  }
  private val minhashSigCte =
    "sig AS (SELECT doc_id, " +
      (0 until 8).map(i => s"list_min(list_transform(sh, x -> md5('$i|' || x))) AS h$i")
        .mkString(", ") + " FROM t),\n" +
    "bands AS (" +
      (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, md5(h${2 * b} || h${2 * b + 1}) AS band_key FROM sig")
        .mkString(" UNION ALL ") + ")"

  /** q341 oracle: 3 unrolled HITS rounds — all-integer mutual
    * recursion, renormalized to ppm of each side's max per round
    * (mirrors Events.hits exactly; `//` floor = Spark `div` trunc on
    * the all-positive scores). */
  private lazy val hitsOracle: String = {
    val rounds = 3
    val ctes = (1 to rounds).map { i =>
      s"""a${i}r AS (SELECT event_type, sum(h${i - 1}.s * e.w) AS s
         | FROM e JOIN h${i - 1} USING (user_id) GROUP BY 1),
         |a$i AS (SELECT event_type,
         |  s * 1000000 // (SELECT max(s) FROM a${i}r) AS s FROM a${i}r),
         |h${i}r AS (SELECT user_id, sum(a$i.s * e.w) AS s
         | FROM e JOIN a$i USING (event_type) GROUP BY 1),
         |h$i AS (SELECT user_id,
         |  s * 1000000 // (SELECT max(s) FROM h${i}r) AS s FROM h${i}r)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT user_id, event_type, count(*) AS w
       | FROM events GROUP BY 1, 2),
       |h0 AS (SELECT DISTINCT user_id, CAST(1000000 AS BIGINT) AS s
       | FROM events),
       |$ctes
       |SELECT 'authority' AS kind, event_type AS id,
       | CAST(s AS BIGINT) AS score_scaled FROM a$rounds
       |UNION ALL
       |SELECT 'hub' AS kind, CAST(user_id AS VARCHAR) AS id,
       | CAST(s AS BIGINT) AS score_scaled FROM h$rounds""".stripMargin
  }

  /** q342 oracle: every (bands × rows) cut of the same 8 minhashes,
    * volume + actual recall + the S-curve as literal multiplication
    * chains (never libm pow), per-pair ppm-rounded before the mean. */
  private lazy val lshPlannerOracle: String = {
    val configs = Seq((1, 8), (2, 4), (4, 2), (8, 1))
    val bandCtes = configs.map { case (nb, r) =>
      s"b${nb}x$r AS (" + (0 until nb).map { b =>
        val cat = (0 until r).map(j => s"h${b * r + j}").mkString(" || ")
        s"SELECT doc_id, $b AS band, md5($cat) AS k FROM sig"
      }.mkString(" UNION ALL ") + ")"
    }.mkString(",\n")
    val selects = configs.map { case (nb, r) =>
      val t = s"b${nb}x$r"
      val sr = List.fill(r)("jaccard").mkString(" * ")
      val qb = List.fill(nb)(s"(1.0 - ($sr))").mkString(" * ")
      s"""SELECT n_bands, rows_per_band, candidate_pairs, n_exact_pairs,
         | n_found,
         | n_found * 1000000 // nullif(n_exact_pairs, 0) AS actual_recall_ppm,
         | predicted_recall_ppm
         |FROM (SELECT CAST($nb AS BIGINT) AS n_bands,
         |  CAST($r AS BIGINT) AS rows_per_band,
         |  (SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT)
         |   FROM (SELECT count(*) AS n FROM $t GROUP BY band, k) x)
         |    AS candidate_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT ex.d1, ex.d2
         |     FROM ex JOIN $t a ON ex.d1 = a.doc_id
         |     JOIN $t b ON ex.d2 = b.doc_id AND a.band = b.band
         |     WHERE a.k = b.k) y) AS n_found,
         |  (SELECT CAST(sum(CAST(round((1.0 - ($qb)) * 1000000) AS BIGINT))
         |     AS BIGINT) // nullif(count(*), 0) FROM ex)
         |    AS predicted_recall_ppm) z""".stripMargin
    }.mkString("\nUNION ALL\n")
    val sigOnly = "sig AS (SELECT doc_id, " +
      (0 until 8).map(i =>
        s"list_min(list_transform(sh, x -> md5('$i|' || x))) AS h$i")
        .mkString(", ") + " FROM t)"
    s"""WITH $shinglesCte,
       |$sigOnly,
       |e2 AS (SELECT doc_id, unnest(sh) AS s FROM t),
       |cp AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
       | FROM e2 a JOIN e2 b ON a.s = b.s AND a.doc_id < b.doc_id
       | GROUP BY 1, 2),
       |z AS (SELECT doc_id, len(sh) AS n FROM t),
       |ex AS (SELECT d1, d2,
       |  CAST(common AS DOUBLE) / (za.n + zb.n - common) AS jaccard
       | FROM cp JOIN z za ON d1 = za.doc_id JOIN z zb ON d2 = zb.doc_id
       | WHERE CAST(common AS DOUBLE) / (za.n + zb.n - common) >= 0.5),
       |$bandCtes
       |$selects""".stripMargin
  }

  /** q105/q111 shared oracle: delta (odd ids) probed against base
    * (even ids) — exact md5 membership + band collision, folded to a
    * verdict. One SQL for both keys: q111 must compute exactly the
    * inline q105 verdicts from the persisted index. */
  private lazy val incrementalDedupOracle: String =
    s"""WITH $shinglesCte,
      |$minhashSigCte,
      |bh AS (SELECT DISTINCT md5(text) AS h FROM documents
      |  WHERE doc_id % 2 = 0),
      |dd AS (SELECT doc_id, md5(text) AS h FROM documents
      |  WHERE doc_id % 2 = 1),
      |ex AS (SELECT dd.doc_id,
      |  CASE WHEN bh.h IS NULL THEN 0 ELSE 1 END AS exact_dup
      | FROM dd LEFT JOIN bh ON dd.h = bh.h),
      |nb AS (SELECT DISTINCT a.doc_id FROM bands a JOIN bands b
      |  ON a.band = b.band AND a.band_key = b.band_key
      |   AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0)
      |SELECT ex.doc_id, ex.exact_dup,
      | CASE WHEN nb.doc_id IS NULL THEN 0 ELSE 1 END AS near_dup,
      | CASE WHEN ex.exact_dup = 1 THEN 'drop_exact'
      |  WHEN nb.doc_id IS NOT NULL THEN 'drop_near'
      |  ELSE 'keep' END AS verdict
      |FROM ex LEFT JOIN nb ON ex.doc_id = nb.doc_id""".stripMargin

  /** DuckDB-runnable oracle SQL per query (same parquet tables).
    * Column aliases MUST match the Spark side exactly (SURVEY §5). */
  val oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_top_revenue" ->
      """WITH rev AS (
        | SELECT l_orderkey, round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
        | FROM lineitem GROUP BY l_orderkey)
        |SELECT o_orderkey, o_orderdate, revenue
        |FROM rev JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q03_segment_revenue" ->
      """SELECT o_orderkey, o_orderdate,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        | AND o_orderdate < TIMESTAMP '1998-01-01'
        | AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin,
    "q04_region_sales" ->
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q05_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        | AND o_orderdate < TIMESTAMP '1997-01-01'
        | AND EXISTS (SELECT 1 FROM lineitem
        |   WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,
    "q06_selective_sum" ->
      """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        | AND l_shipdate < TIMESTAMP '1997-01-01'
        | AND l_discount BETWEEN 0.05 AND 0.07
        | AND l_quantity < 24""".stripMargin,
    "q07_cust_top_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t WHERE rn <= 3""".stripMargin,
    "q08_segment_distinct" ->
      """SELECT c_mktsegment,
        | count(DISTINCT c_nationkey) AS n_nations,
        | count(*) AS n_cust,
        | round(sum(c_acctbal),2) AS sum_acctbal
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "q09_idle_customers" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin,
    "q10_rollup_sales" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_price,
        | count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q11_part_type_topk" ->
      """SELECT p_type, p_partkey, p_brand, p_retailprice, rn FROM (
        | SELECT p_type, p_partkey, p_brand, p_retailprice,
        |  row_number() OVER (PARTITION BY p_type
        |    ORDER BY p_retailprice DESC, p_partkey) AS rn
        | FROM part) t WHERE rn <= 2""".stripMargin,
    "q12_latest_state" ->
      """SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts FROM (
        | SELECT user_id, event_id, event_type, value, ts,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn = 1""".stripMargin,
    "q13_tumbling_counts" ->
      """SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS window_start, event_type,
        | count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q14_sessionize" ->
      """WITH g AS (
        | SELECT user_id,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM g GROUP BY user_id""".stripMargin,
    "q15_payload_extract" ->
      """SELECT event_type,
        | CAST(sum(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS sum_k,
        | max(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS max_k,
        | count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q16_event_funnel" ->
      """WITH w AS (
        | SELECT user_id, event_type, ts,
        |  min(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS first_view
        | FROM events)
        |SELECT user_id, epoch_us(first_view) AS first_view,
        | count(CASE WHEN event_type = 'purchase' AND ts > first_view
        |   THEN 1 END) AS purchases_after_view
        |FROM w WHERE first_view IS NOT NULL
        |GROUP BY user_id, first_view""".stripMargin,
    "q17_asof_join" ->
      """SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_ts,
        | last_click_id, epoch_us(last_click_ts) AS last_click_ts FROM (
        | SELECT user_id, event_id, ts, event_type,
        |  last_value(CASE WHEN event_type = 'click' THEN event_id END
        |    IGNORE NULLS) OVER w AS last_click_id,
        |  last_value(CASE WHEN event_type = 'click' THEN ts END
        |    IGNORE NULLS) OVER w AS last_click_ts
        | FROM events WHERE event_type IN ('click', 'purchase')
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) t
        |WHERE event_type = 'purchase'""".stripMargin,
    "q20_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    "q21_dedup_ngram_jaccard" ->
      s"""WITH $shinglesCte,
        |e AS (SELECT doc_id, unnest(sh) AS s FROM t),
        |c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |z AS (SELECT doc_id, len(sh) AS n FROM t)
        |SELECT d1, d2, CAST(common AS DOUBLE)/(za.n + zb.n - common) AS jaccard
        |FROM c JOIN z za ON d1 = za.doc_id JOIN z zb ON d2 = zb.doc_id
        |WHERE CAST(common AS DOUBLE)/(za.n + zb.n - common) >= 0.5""".stripMargin,
    "q22_dedup_minhash" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |FROM bands a JOIN bands b ON a.band = b.band
        | AND a.band_key = b.band_key AND a.doc_id < b.doc_id""".stripMargin,
    "q24_embed_near_dup" ->
      s"""WITH $quantCte,
        |$embedBandCtes,
        |c AS (SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
        | FROM bd x JOIN bd y ON x.band = y.band AND x.band_key = y.band_key
        |  AND x.vec_id < y.vec_id)
        |SELECT id1, id2, $cosExpr AS cosine
        |FROM c JOIN m a ON id1 = a.vec_id JOIN m b ON id2 = b.vec_id
        |WHERE $cosExpr >= 0.4""".stripMargin,
    "q26_ann_lsh" ->
      s"""WITH $quantCte,
        |pb AS (SELECT m.vec_id, pp.p, $planeBitSql AS bit
        | FROM m, (SELECT unnest(range(8)) AS p) pp),
        |bk AS (SELECT vec_id,
        |  CAST(sum(bit * (1::BIGINT << CAST(p AS INTEGER))) AS BIGINT) AS bucket
        | FROM pb GROUP BY vec_id)
        |SELECT vec_id, bucket,
        | count(*) OVER (PARTITION BY bucket) AS bucket_size
        |FROM bk""".stripMargin,
    "q23_dedup_simhash" ->
      """WITH t1 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tk AS (SELECT doc_id, md5(tok) AS h FROM t1),
        |b AS (SELECT doc_id, h, unnest(range(64)) AS bit FROM tk),
        |v AS (SELECT doc_id, bit, sum(CASE WHEN
        |   (((strpos('0123456789abcdef', substr(h, CAST(bit // 4 AS INTEGER) + 1, 1)) - 1)
        |     >> CAST(bit % 4 AS INTEGER)) & 1) = 1
        |  THEN 1 ELSE -1 END) AS v FROM b GROUP BY 1, 2),
        |n AS (SELECT doc_id, bit // 4 AS j,
        |  sum(CASE WHEN v > 0 THEN (1 << CAST(bit % 4 AS INTEGER)) ELSE 0 END) AS nv
        | FROM v GROUP BY 1, 2)
        |SELECT doc_id, array_to_string(
        |  list(substr('0123456789abcdef', CAST(nv AS INTEGER) + 1, 1) ORDER BY j),
        |  '') AS simhash
        |FROM n GROUP BY doc_id""".stripMargin,
    "q31_binary_meta" ->
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS byte_len,
        | sha256(text) AS content_sha,
        | CAST(length(text) % 1920 AS BIGINT) AS width,
        | CAST(length(text) % 1080 AS BIGINT) AS height,
        | CAST(list_sum(list_transform(range(8), i ->
        |   CAST(strpos('0123456789abcdef',
        |     substr(sha256(text), CAST(i + 1 AS INTEGER), 1)) - 1 AS BIGINT)
        |   * (1::BIGINT << CAST((7 - i) * 4 AS INTEGER)))) % 120 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,
    // q113: dHash bits → hex nibbles → 8×1-byte banding → hamming
    // verify — byte arithmetic identical on both engines.
    "q113_phash_neardup" ->
      """WITH b AS (SELECT doc_id,
        |  list_transform(range(1, 65), i ->
        |   CASE WHEN ascii(substr(text, CAST(i AS INTEGER), 1))
        |     < ascii(substr(text, CAST(i + 1 AS INTEGER), 1)) THEN 1 ELSE 0 END) AS bits
        | FROM documents WHERE len(text) >= 65),
        |h AS (SELECT doc_id, array_to_string(list_transform(range(0, 16), j ->
        |   substr('0123456789abcdef',
        |     bits[CAST(j*4+1 AS INTEGER)]*8 + bits[CAST(j*4+2 AS INTEGER)]*4
        |     + bits[CAST(j*4+3 AS INTEGER)]*2 + bits[CAST(j*4+4 AS INTEGER)] + 1, 1)), '') AS dhash
        | FROM b),
        |bd AS (SELECT doc_id, unnest(range(8)) AS band,
        |  substr(dhash, CAST(unnest(range(8))*2 + 1 AS INTEGER), 2) AS band_key FROM h),
        |c AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
        | FROM bd x JOIN bd y ON x.band = y.band AND x.band_key = y.band_key
        |  AND x.doc_id < y.doc_id),
        |v AS (SELECT id1, id2,
        |  CAST(list_sum(list_transform(range(16), j ->
        |    bit_count(xor(
        |     CAST(strpos('0123456789abcdef', substr(a.dhash, CAST(j+1 AS INTEGER), 1)) - 1 AS BIGINT),
        |     CAST(strpos('0123456789abcdef', substr(bb.dhash, CAST(j+1 AS INTEGER), 1)) - 1 AS BIGINT))))) AS BIGINT) AS hamming
        | FROM c JOIN h a ON id1 = a.doc_id JOIN h bb ON id2 = bb.doc_id)
        |SELECT id1, id2, hamming FROM v WHERE hamming <= 8""".stripMargin,
    // q114: byte histogram + q91's integer-sum entropy form.
    "q114_binary_entropy" ->
      """WITH by AS (SELECT doc_id,
        |  substr(text, CAST(unnest(range(1, len(text) + 1)) AS INTEGER), 1) AS ch
        | FROM documents WHERE len(text) > 0),
        |ct AS (SELECT doc_id, ch, count(*) AS c FROM by GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bytes,
        |  CAST(count(*) AS BIGINT) AS n_distinct_bytes,
        |  sum(c * log2(c)) AS slc FROM ct GROUP BY doc_id)
        |SELECT doc_id, n_bytes, n_distinct_bytes,
        | round(log2(n_bytes) - slc / n_bytes, 4) AS entropy
        |FROM a""".stripMargin,
    "q52_frame_sample" ->
      """WITH f AS (SELECT doc_id, text,
        |  LEAST(CAST(ceil(length(text) / 64.0) AS BIGINT), 8) AS n_frames
        | FROM documents),
        |x AS (SELECT doc_id, text, n_frames,
        |  unnest(range(n_frames)) AS frame_idx FROM f)
        |SELECT doc_id, n_frames, frame_idx,
        | sha256(substr(text, CAST(frame_idx * 64 + 1 AS INTEGER), 64)) AS frame_sha
        |FROM x""".stripMargin,
    "q38_ann_ivf" ->
      s"""WITH $ivfScoreCtes
        |SELECT query_id, rank, neighbor_id, cosine FROM (
        | SELECT query_id, neighbor_id, cosine,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS rank
        | FROM sc) t WHERE rank <= 3""".stripMargin,
    "q25_ann_bruteforce" ->
      s"""WITH $quantCte,
        |sc AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  $cosExpr AS cosine
        | FROM m a JOIN m b ON a.vec_id < 5 AND b.vec_id >= 5)
        |SELECT query_id, rank, neighbor_id, cosine FROM (
        | SELECT query_id, neighbor_id, cosine,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS rank
        | FROM sc) t WHERE rank <= 5""".stripMargin,
    "q27_token_stats" ->
      """SELECT doc_id,
        | CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_re_tokens,
        | CAST(length(replace(text,' ','')) AS DOUBLE)/len(string_split(text,' ')) AS mean_tok_len
        |FROM documents""".stripMargin,
    "q28_doc_quality" ->
      """WITH b AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS BIGINT) AS n_stop
        | FROM b)
        |SELECT doc_id, n_tokens, n_unique, n_stop,
        | CAST(n_unique AS DOUBLE)/n_tokens AS ttr,
        | CAST(n_stop AS DOUBLE)/n_tokens AS stop_ratio,
        | (CAST(n_unique AS DOUBLE)/n_tokens)*0.5
        |   + (1.0 - CAST(n_stop AS DOUBLE)/n_tokens)*0.5 AS quality
        |FROM c""".stripMargin,
    "q29_lang_id" ->
      """WITH b AS (SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(toks, x -> x IN ('le','la','les','et'))) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(toks, x -> x IN ('el','los','las','y'))) AS BIGINT) AS s_es
        | FROM b)
        |SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
        | CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |      WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |      WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang,
        | CAST((CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |      WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |      WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END) = lang AS INTEGER) AS is_correct
        |FROM sc""".stripMargin,
    "q32_word_freq" ->
      """SELECT token, count(*) AS n FROM (
        | SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "q33_cube_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice),2) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q34_value_stats" ->
      """WITH a AS (SELECT event_type, count(*) AS n, sum(value) AS s,
        |  sum(value*value) AS ss FROM events GROUP BY event_type)
        |SELECT event_type, n, round(s/n, 4) AS mean_value,
        | round((ss - s*s/n)/(n - 1), 4) AS var_value
        |FROM a""".stripMargin,
    "q35_supplier_balance" ->
      """WITH j AS (SELECT s_suppkey, s_name, n_name, s_acctbal,
        |  round(avg(s_acctbal) OVER (PARTITION BY n_name), 4) AS nation_avg
        | FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        |SELECT s_suppkey, s_name, n_name, s_acctbal, nation_avg
        |FROM j WHERE s_acctbal > nation_avg""".stripMargin,
    "q37_label_centroids" ->
      """WITH q AS (SELECT vec_id, label, list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        | FROM embeddings),
        |u AS (SELECT label, unnest(v) AS x,
        |   CAST(generate_subscripts(v, 1) - 1 AS INTEGER) AS pos FROM q)
        |SELECT label, pos, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n_vecs
        |FROM u GROUP BY label, pos""".stripMargin,
    "q39_order_histogram" ->
      """SELECT CAST(floor(o_totalprice/50000.0)*50000.0 AS BIGINT) AS bin,
        | count(*) AS n, round(avg(o_totalprice),4) AS avg_price
        |FROM orders GROUP BY 1""".stripMargin,
    "q40_median_order" ->
      """WITH j AS (
        | SELECT c_mktsegment, o_totalprice, o_orderkey,
        |  row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY o_totalprice, o_orderkey) AS rn,
        |  count(*) OVER (PARTITION BY c_mktsegment) AS cnt
        | FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, round(avg(o_totalprice),4) AS median_price
        |FROM j WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
        |GROUP BY c_mktsegment""".stripMargin,
    "q41_set_ops" ->
      """WITH y96 AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'),
        |y97 AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97) a
        |UNION ALL
        |SELECT o_custkey, 'only_1996' AS tag FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97) b""".stripMargin,
    "q42_sliding_counts" ->
      """SELECT epoch_us(ts) - epoch_us(ts) % 900000000 - j*900000000 AS window_start,
        | count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events, (SELECT unnest(range(4)) AS j) jj
        |GROUP BY 1""".stripMargin,
    "q43_pivot_counts" ->
      """SELECT user_id,
        | count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        | count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        | count(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY user_id""".stripMargin,
    "q44_first_last" ->
      """WITH o AS (SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
        | FROM events)
        |SELECT user_id,
        | min(CASE WHEN rn_a = 1 THEN event_type END) AS first_type,
        | min(CASE WHEN rn_d = 1 THEN event_type END) AS last_type,
        | count(*) AS n
        |FROM o GROUP BY user_id""".stripMargin,
    "q45_scalar_subquery" ->
      """WITH m AS (SELECT o_custkey, max(o_totalprice) AS max_order
        | FROM orders GROUP BY o_custkey)
        |SELECT c_custkey, c_acctbal, max_order
        |FROM customer JOIN m ON c_custkey = o_custkey
        |WHERE max_order > c_acctbal * 20.0""".stripMargin,
    "q47_name_match" ->
      """SELECT a.c_custkey AS id1, b.c_custkey AS id2,
        | a.c_name AS name1, b.c_name AS name2,
        | CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    // q46: identical-expression doubles (the rate quotient) are
    // bit-identical across engines — no rounding needed; the budget
    // is exact integer arithmetic (truncating cast + integer div).
    "q46_source_mix" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        | FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  count(*) AS n_sources FROM per)
        |SELECT source, n_docs, n_tokens,
        | least(1.0, CAST(CAST(trunc(total_tokens * 0.5) AS BIGINT) // n_sources
        |   AS DOUBLE) / n_tokens) AS rate
        |FROM per, tot""".stripMargin,
    "q48_canonical_docs" ->
      """WITH h AS (SELECT doc_id, source, md5(text) AS content_hash
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY content_hash
        |    ORDER BY source, doc_id) AS rn FROM h),
        |a AS (SELECT content_hash, count(DISTINCT source) AS n_sources,
        |  count(*) AS n_copies FROM h GROUP BY content_hash)
        |SELECT a.content_hash, r.source AS keep_source, r.doc_id AS keep_id,
        | a.n_sources, a.n_copies
        |FROM a JOIN r ON a.content_hash = r.content_hash AND r.rn = 1""".stripMargin,
    "q49_norm_dedup" ->
      """SELECT md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |  '  +', ' ', 'g')) AS norm_hash,
        | min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    "q50_lm_score" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        | FROM documents),
        |f AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok)
        |SELECT doc_id, round(avg(log10(cnt)), 4) AS lm_score,
        | count(*) AS n_tokens
        |FROM tk JOIN f USING (tok) GROUP BY doc_id""".stripMargin,
    "q51_cohort_retention" ->
      """WITH fw AS (SELECT user_id, min(epoch_us(ts)) // 604800000000 AS cohort_week
        | FROM events GROUP BY user_id),
        |aw AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
        | FROM events)
        |SELECT cohort_week, week, count(DISTINCT user_id) AS n_users
        |FROM aw JOIN fw USING (user_id)
        |GROUP BY cohort_week, week""".stripMargin,
    "q30_fingerprint" ->
      s"""WITH $shinglesCte
        |SELECT doc_id, md5(text) AS content_hash,
        | list_min(list_transform(sh, x -> md5(x))) AS min_shingle_hash
        |FROM (SELECT d.doc_id, d.text, t.sh FROM documents d
        |  JOIN t ON d.doc_id = t.doc_id) u""".stripMargin,
    "q18_upsert_merge" ->
      """SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts FROM (
        | SELECT user_id, event_id, event_type, value, ts,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn = 1""".stripMargin,
    "q19_delete_tombstones" ->
      """SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts FROM (
        | SELECT user_id, event_id, event_type, value, ts,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    // q36: declarative replay of the materializer fold. Within one
    // batch mutations are applied in (ts, event_id) order, so: a row
    // is deleted iff its last event is a tombstone ('error'); live
    // qualifiers are the event types seen after the last tombstone,
    // plus 'e:props'; version = max ts over all mutations.
    "q36_row_materialize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id, event_type
        |  FROM events),
        |o AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS rn FROM e),
        |w AS (SELECT *,
        |  max(CASE WHEN event_type = 'error' THEN rn END)
        |    OVER (PARTITION BY user_id) AS err_rn,
        |  max(rn) OVER (PARTITION BY user_id) AS last_rn,
        |  max(ts) OVER (PARTITION BY user_id) AS version FROM o),
        |live AS (SELECT user_id, version, last_rn, err_rn,
        |  list_sort(list_distinct(list('e:' || event_type)
        |    FILTER (WHERE rn > coalesce(err_rn, 0)))) AS types,
        |  count(*) FILTER (WHERE rn > coalesce(err_rn, 0)) AS n_live
        | FROM w GROUP BY user_id, version, last_rn, err_rn)
        |SELECT 'events' AS "table", CAST(user_id AS VARCHAR) AS rowkey,
        | version,
        | (err_rn IS NOT NULL AND err_rn = last_rn) AS deleted,
        | CASE WHEN n_live > 0
        |   THEN array_to_string(list_sort(list_append(types, 'e:props')), ',')
        |   ELSE '' END AS qualifiers
        |FROM live""".stripMargin,
    // q53: put-only stream → final state is the per-key latest-put
    // view, independent of micro-batch arrival order.
    "q53_wal_stream_materialize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type
        |  FROM events WHERE event_type <> 'error'),
        |a AS (SELECT user_id, max(ts) AS version,
        |  list_sort(list_distinct(list('e:' || event_type))) AS types
        | FROM e GROUP BY user_id)
        |SELECT 'events' AS "table", CAST(user_id AS VARCHAR) AS rowkey,
        | version, false AS deleted,
        | array_to_string(list_sort(list_append(types, 'e:props')), ',') AS qualifiers
        |FROM a""".stripMargin,
    // q100: the RocksDB provider must produce q53's exact states —
    // same oracle by design.
    "q100_rocksdb_materialize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type
        |  FROM events WHERE event_type <> 'error'),
        |a AS (SELECT user_id, max(ts) AS version,
        |  list_sort(list_distinct(list('e:' || event_type))) AS types
        | FROM e GROUP BY user_id)
        |SELECT 'events' AS "table", CAST(user_id AS VARCHAR) AS rowkey,
        | version, false AS deleted,
        | array_to_string(list_sort(list_append(types, 'e:props')), ',') AS qualifiers
        |FROM a""".stripMargin,
    "q54_hash_sample" ->
      s"""SELECT doc_id, bucket FROM (
        | SELECT doc_id, ${hex8Sql("concat('sample|', doc_id)")} AS bucket
        | FROM documents) t
        |WHERE bucket < 429496729""".stripMargin,
    "q55_stratified_sample" ->
      s"""WITH k AS (SELECT lang,
        |  (${hex8Sql("concat('strata|', doc_id)")} < 858993459) AS kept
        | FROM documents)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        | round(CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 4) AS rate
        |FROM k GROUP BY lang""".stripMargin,
    "q56_bigram_lm" ->
      """WITH b AS (SELECT doc_id, unnest(list_transform(
        |   range(len(string_split(text, ' ')) - 1),
        |   i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS bg
        | FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |f AS (SELECT bg, count(*) AS cnt FROM b GROUP BY bg)
        |SELECT doc_id, round(avg(log10(cnt)), 4) AS lm2_score,
        | count(*) AS n_bigrams
        |FROM b JOIN f USING (bg) GROUP BY doc_id""".stripMargin,
    "q57_decontaminate" ->
      s"""WITH $shinglesCte,
        |e AS (SELECT doc_id, unnest(sh) AS s FROM t),
        |p AS (SELECT DISTINCT s FROM e WHERE doc_id < 5)
        |SELECT e.doc_id, count(DISTINCT e.s) AS n_hits
        |FROM e JOIN p ON e.s = p.s WHERE e.doc_id >= 5
        |GROUP BY e.doc_id""".stripMargin,
    "q58_tfidf_topk" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, tok,
        |  tf * log10(CAST(n_docs AS DOUBLE) / df) AS score
        | FROM tf JOIN df USING (tok) CROSS JOIN n)
        |SELECT doc_id, rank, tok, round(score, 4) AS score FROM (
        | SELECT doc_id, tok, score, row_number() OVER (PARTITION BY doc_id
        |   ORDER BY score DESC, tok) AS rank FROM sc) t
        |WHERE rank <= 3""".stripMargin,
    // q59: transitive closure of the LSH pair graph via recursive CTE;
    // component = min reachable doc_id (matches min-label propagation).
    "q59_dedup_components" ->
      s"""WITH RECURSIVE $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM c UNION SELECT d2, d1 FROM c),
        |r AS (SELECT v, u FROM adj
        | UNION SELECT r.v, adj.u FROM r, adj WHERE r.u = adj.v)
        |SELECT v AS doc_id, least(v, min(u)) AS component
        |FROM r GROUP BY v""".stripMargin,
    "q60_count_min_audit" ->
      s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |rr AS (SELECT unnest(range(4)) AS r),
        |bu AS (SELECT tok, r,
        |  ${hex8Sql("concat('cm', r, '|', tok)")} % 256 AS b FROM tk, rr),
        |sk AS (SELECT r, b, count(*) AS cnt FROM bu GROUP BY 1, 2),
        |top AS (SELECT tok, count(*) AS n FROM tk GROUP BY tok
        |  ORDER BY n DESC, tok LIMIT 20),
        |tb AS (SELECT tok, n, r,
        |  ${hex8Sql("concat('cm', r, '|', tok)")} % 256 AS b FROM top, rr)
        |SELECT tb.tok AS token, tb.n, CAST(min(sk.cnt) AS BIGINT) AS est
        |FROM tb JOIN sk ON tb.r = sk.r AND tb.b = sk.b
        |GROUP BY 1, 2""".stripMargin,
    "q61_pii_mask" ->
      """SELECT c_custkey, md5(c_name) AS name_hash,
        | regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS name_redacted,
        | CAST(len(regexp_extract_all(c_name, '[0-9]+')) AS BIGINT) AS n_redacted,
        | concat('***', right(CAST(c_custkey AS VARCHAR), 2)) AS key_last2
        |FROM customer""".stripMargin,
    // AsOf.join semantics: clicks at EXACTLY the purchase ts are
    // visible (side ordering), ties among clicks resolved by the
    // event_id tiebreak — hence the join-then-rank oracle, not q17's
    // mixed (ts, event_id) window.
    "q62_asof_api" ->
      """WITH p AS (SELECT user_id, event_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id, ts FROM events
        |  WHERE event_type = 'click')
        |SELECT user_id, purchase_id, purchase_ts, last_click_id,
        | last_click_ts FROM (
        | SELECT p.user_id, p.event_id AS purchase_id,
        |  epoch_us(p.ts) AS purchase_ts,
        |  c.event_id AS last_click_id, epoch_us(c.ts) AS last_click_ts,
        |  row_number() OVER (PARTITION BY p.user_id, p.event_id
        |    ORDER BY c.ts DESC, c.event_id DESC) AS rk
        | FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts) t
        |WHERE rk = 1""".stripMargin,
    "q63_session_assign" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts,
        | CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS session_id
        |FROM (
        | SELECT user_id, event_id, ts,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t""".stripMargin,
    "q64_value_bands" ->
      """WITH bands AS (SELECT b AS band, b*5000 AS lo, b*5000+4999 AS hi
        |  FROM (SELECT unnest(range(10)) AS b) t),
        |p AS (SELECT CAST(floor(value*100) AS BIGINT) AS vc, value FROM events)
        |SELECT band, count(*) AS n, round(avg(value), 4) AS avg_value
        |FROM p JOIN bands ON vc >= lo AND vc <= hi
        |GROUP BY band""".stripMargin,
    // q65: the full curation pipeline — each stage replays the SQL of
    // the operator it composes (q49, q28, q29, q57, q54).
    "q65_curate" ->
      s"""WITH $shinglesCte,
        |nrm AS (SELECT doc_id, text,
        |  md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |    '  +', ' ', 'g')) AS nh FROM documents),
        |ddp AS (SELECT doc_id, text FROM (
        |  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY nh) AS rep
        |  FROM nrm) x WHERE doc_id = rep),
        |qf AS (SELECT doc_id, text,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) * 0.5
        |  + (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the', 'a'))) AS DOUBLE)
        |    / len(string_split(text, ' '))) * 0.5 AS quality,
        |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('le','la','les','et'))) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('el','los','las','y'))) AS BIGINT) AS s_es
        | FROM ddp),
        |e AS (SELECT doc_id, unnest(sh) AS s2 FROM t),
        |probe AS (SELECT DISTINCT s2 FROM e WHERE doc_id < 5),
        |bad AS (SELECT DISTINCT e.doc_id FROM e JOIN probe USING (s2)),
        |fin AS (SELECT doc_id, n_tokens, quality FROM qf
        | WHERE quality >= 0.5
        |  AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
        |  AND doc_id >= 5
        |  AND doc_id NOT IN (SELECT doc_id FROM bad)
        |  AND ${hex8Sql("concat('curate|', doc_id)")} < 2147483648)
        |SELECT doc_id, n_tokens, round(quality, 4) AS quality FROM fin""".stripMargin,
    "q66_token_pack" ->
      s"""WITH d AS (SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  ${hex8Sql("concat('pack|', doc_id)")} % 8 AS shard
        | FROM documents)
        |SELECT doc_id, lang, shard, n_tokens,
        | CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096
        |  AS BIGINT) AS chunk_id
        |FROM d""".stripMargin,
    "q67_group_quartiles" ->
      """WITH j AS (SELECT c_mktsegment, o_totalprice,
        |  row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY o_totalprice, o_orderkey) AS rn,
        |  count(*) OVER (PARTITION BY c_mktsegment) AS cnt
        | FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment,
        | min(CASE WHEN rn = CAST(ceil(cnt*0.25) AS BIGINT) THEN o_totalprice END) AS p25,
        | min(CASE WHEN rn = CAST(ceil(cnt*0.50) AS BIGINT) THEN o_totalprice END) AS p50,
        | min(CASE WHEN rn = CAST(ceil(cnt*0.75) AS BIGINT) THEN o_totalprice END) AS p75
        |FROM j GROUP BY c_mktsegment""".stripMargin,
    "q68_user_anomaly" ->
      """WITH u AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |st AS (SELECT count(*) AS c, CAST(sum(n) AS BIGINT) AS s,
        |  CAST(sum(n*n) AS BIGINT) AS ss FROM u)
        |SELECT user_id, n,
        | round((n - CAST(s AS DOUBLE)/c) / sqrt((ss - s*s/c) / (c-1)), 4) AS z,
        | (abs((n - CAST(s AS DOUBLE)/c) / sqrt((ss - s*s/c) / (c-1))) >= 2.0) AS is_anomaly
        |FROM u, st""".stripMargin,
    "q69_subscription_audit" ->
      """WITH e AS (SELECT user_id, event_type FROM events)
        |SELECT 'all' AS subscription, count(*) AS n_mutations,
        | count(DISTINCT user_id) AS n_keys, CAST(2*count(*) AS BIGINT) AS n_cells
        |FROM e
        |UNION ALL
        |SELECT 'clicks', count(*), count(DISTINCT user_id), CAST(count(*) AS BIGINT)
        |FROM e WHERE event_type = 'click'
        |UNION ALL
        |SELECT 'payloads', count(*), count(DISTINCT user_id), CAST(count(*) AS BIGINT)
        |FROM e
        |UNION ALL
        |SELECT 'purchases', count(*), count(DISTINCT user_id), CAST(count(*) AS BIGINT)
        |FROM e WHERE event_type = 'purchase'""".stripMargin,
    "q70_scd2" ->
      """SELECT user_id, event_id, event_type, value,
        | epoch_us(ts) AS valid_from,
        | lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id) AS valid_to
        |FROM events""".stripMargin,
    "q71_time_travel" ->
      """SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts FROM (
        | SELECT user_id, event_id, event_type, value, ts,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events WHERE epoch_us(ts) <= 1705276800000000) t
        |WHERE rn = 1""".stripMargin,
    "q72_bigram_topk" ->
      """WITH b AS (SELECT unnest(list_transform(
        |   range(len(string_split(text, ' ')) - 1),
        |   i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS bg
        | FROM documents WHERE len(string_split(text, ' ')) >= 2)
        |SELECT bg, count(*) AS n FROM b
        |GROUP BY bg ORDER BY n DESC, bg LIMIT 20""".stripMargin,
    // q73: streaming tumbling counts — same aggregate as q13 (window
    // counting is arrival-order independent, so the final Complete-
    // mode state replays as the batch SQL).
    "q73_window_stream" ->
      """SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS window_start, event_type,
        | count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // q78: streaming session windows; session_window starts a NEW
    // session when the gap is >= the 30-min duration (touching
    // [t, t+30) windows do not overlap) — hence >= where q14 uses >.
    // Put-only stream: tombstone ('error') events excluded.
    "q78_session_stream" ->
      """WITH g AS (
        | SELECT user_id,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM events WHERE event_type <> 'error'
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM g GROUP BY user_id""".stripMargin,
    // q80: stream-stream interval join — every (purchase, click) pair
    // within [purchase - 1h, purchase] per user, aggregated per user.
    // q122: q62's backward as-of (latest click ≤ purchase, event_id
    // tiebreak) → revenue per click day; -1 = unattributed.
    "q122_last_click_attribution" ->
      """WITH p AS (SELECT user_id, event_id, value, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id, ts FROM events
        |  WHERE event_type = 'click'),
        |a AS (SELECT user_id, purchase_id, value, last_click_ts FROM (
        | SELECT p.user_id, p.event_id AS purchase_id, p.value,
        |  epoch_us(c.ts) AS last_click_ts,
        |  row_number() OVER (PARTITION BY p.user_id, p.event_id
        |    ORDER BY c.ts DESC, c.event_id DESC) AS rk
        | FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts) t
        | WHERE rk = 1)
        |SELECT CASE WHEN last_click_ts IS NULL THEN -1
        |  ELSE last_click_ts - last_click_ts % 86400000000 END AS click_day,
        | count(*) AS n_purchases,
        | round(sum(value), 2) AS attributed_value
        |FROM a GROUP BY 1""".stripMargin,
    // q121: the batch LEFT JOIN the streaming outer join must equal —
    // matched purchases contribute their pair rows, unmatched ones a
    // single null-click row.
    "q121_left_outer_stream" ->
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS ts FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id, epoch_us(ts) AS ts FROM events
        |  WHERE event_type = 'purchase'),
        |wm AS (SELECT (least((SELECT max(ts) FROM c),
        |  (SELECT max(ts) FROM p)) // 1000) * 1000 AS joint),
        |j AS (SELECT p.user_id, p.event_id AS purchase_seq,
        |  c.event_id AS click_seq, p.ts
        | FROM p LEFT JOIN c ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - 3600000000 AND c.ts <= p.ts)
        |SELECT user_id, count(DISTINCT purchase_seq) AS n_purchases,
        | CAST(sum(CASE WHEN click_seq IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_pairs,
        | count(DISTINCT CASE WHEN click_seq IS NULL THEN purchase_seq END)
        |   AS n_unmatched_purchases
        |FROM j, wm WHERE click_seq IS NOT NULL OR j.ts < wm.joint
        |GROUP BY user_id""".stripMargin,
    "q80_interval_join_stream" ->
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS ts FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id, epoch_us(ts) AS ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.user_id, count(*) AS n_pairs,
        | count(DISTINCT p.event_id) AS n_purchases,
        | count(DISTINCT c.event_id) AS n_clicks
        |FROM p JOIN c ON p.user_id = c.user_id
        | AND c.ts >= p.ts - 3600000000 AND c.ts <= p.ts
        |GROUP BY p.user_id""".stripMargin,
    // q81: the salted two-phase aggregation must equal the plain
    // GROUP BY over the same deliberately skewed key.
    "q81_salted_hot_key" ->
      """WITH e AS (SELECT CASE WHEN event_id % 2 = 0 THEN -1
        |   ELSE user_id END AS skew_key, value FROM events)
        |SELECT skew_key, count(*) AS n,
        | round(sum(value), 2) AS sum_value,
        | round(max(value), 2) AS max_value
        |FROM e GROUP BY skew_key""".stripMargin,
    // q82: table layout (bucketing) must never change results — the
    // oracle is the plain join on the raw parquet.
    "q82_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin,
    // q83: bounded-state materialization — a key is evicted (version
    // 0, deleted, no cells) iff version_ms + ttl < global max event
    // time in ms (the final watermark, delay 0); exact integer floors
    // on both sides. Put-only stream, same replay argument as q53.
    "q83_ttl_materialize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type
        |  FROM events WHERE event_type <> 'error'),
        |a AS (SELECT user_id, max(ts) AS version,
        |  list_sort(list_distinct(list('e:' || event_type))) AS types
        | FROM e GROUP BY user_id),
        |g AS (SELECT max(version) AS gmax FROM a)
        |SELECT 'events' AS "table", CAST(user_id AS VARCHAR) AS rowkey,
        | CASE WHEN version // 1000 + 28800000 < gmax // 1000
        |   THEN CAST(0 AS BIGINT) ELSE version END AS version,
        | (version // 1000 + 28800000 < gmax // 1000) AS deleted,
        | CASE WHEN version // 1000 + 28800000 < gmax // 1000 THEN ''
        |  ELSE array_to_string(list_sort(list_append(types, 'e:props')), ',')
        |  END AS qualifiers
        |FROM a, g""".stripMargin,
    // q84: stream-static enrichment — final Complete-mode counts
    // replay as the batch join of events to the customer dim.
    "q84_stream_enrich" ->
      """SELECT c_mktsegment, count(*) AS n_mutations,
        | CAST(2*count(*) AS BIGINT) AS n_cells
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    // q85: the q46 rates applied as a deterministic md5-bucket draw;
    // identical rate expression and integer thresholds both engines.
    "q85_mixture_sample" ->
      s"""WITH per AS (SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        | FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  count(*) AS n_sources FROM per),
        |r AS (SELECT source,
        |  least(1.0, CAST(CAST(trunc(total_tokens * 0.5) AS BIGINT) // n_sources
        |    AS DOUBLE) / n_tokens) AS rate
        | FROM per, tot),
        |d AS (SELECT doc_id, d.source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS t, rate
        | FROM documents d JOIN r ON d.source = r.source)
        |SELECT source, count(*) AS n_kept,
        | CAST(sum(t) AS BIGINT) AS kept_tokens
        |FROM d
        |WHERE ${hex8Sql("concat('mix|', doc_id)")}
        |  < CAST(floor(rate * 4294967296.0) AS BIGINT)
        |GROUP BY source""".stripMargin,
    // q86: double delivery deduplicated inside the stream == single
    // delivery (the q76 contract, proven on the streaming operator).
    "q86_stream_dedupe" ->
      """SELECT 'events' AS "table", count(*) AS n_mutations,
        | count(DISTINCT user_id) AS n_keys
        |FROM events""".stripMargin,
    // q87: reversed-order replay must produce the q53 final states —
    // the (ts, seq) high-water fold is commutative.
    "q87_replay_out_of_order" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type
        |  FROM events WHERE event_type <> 'error'),
        |a AS (SELECT user_id, max(ts) AS version,
        |  list_sort(list_distinct(list('e:' || event_type))) AS types
        | FROM e GROUP BY user_id)
        |SELECT 'events' AS "table", CAST(user_id AS VARCHAR) AS rowkey,
        | version, false AS deleted,
        | array_to_string(list_sort(list_append(types, 'e:props')), ',') AS qualifiers
        |FROM a""".stripMargin,
    // q88: the bloom is md5-deterministic, so even its false
    // positives replay — the oracle folds the same 3 bits per
    // shingle and applies the same all-bits-set membership test.
    "q88_bloom_decontaminate" ->
      s"""WITH $shinglesCte,
        |e AS (SELECT doc_id, unnest(sh) AS s FROM t),
        |b AS (SELECT doc_id, s,
        |  ${hex8Sql("concat('bl0|', s)")} % 65536 AS b0,
        |  ${hex8Sql("concat('bl1|', s)")} % 65536 AS b1,
        |  ${hex8Sql("concat('bl2|', s)")} % 65536 AS b2
        | FROM e),
        |pb AS (SELECT DISTINCT bit FROM (
        |  SELECT b0 AS bit FROM b WHERE doc_id < 5
        |  UNION SELECT b1 FROM b WHERE doc_id < 5
        |  UNION SELECT b2 FROM b WHERE doc_id < 5) u)
        |SELECT doc_id, count(DISTINCT s) AS n_bloom_hits
        |FROM b
        |WHERE doc_id >= 5
        | AND b0 IN (SELECT bit FROM pb)
        | AND b1 IN (SELECT bit FROM pb)
        | AND b2 IN (SELECT bit FROM pb)
        |GROUP BY doc_id""".stripMargin,
    // q89: closed-form least squares from distributive sums; slope
    // and intercept rounded to 4 (sum order differs per engine).
    "q89_zipf_audit" ->
      """WITH f AS (SELECT tok, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        | GROUP BY tok ORDER BY n DESC, tok LIMIT 100),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank FROM f),
        |xy AS (SELECT log10(CAST(rank AS DOUBLE)) AS x,
        |  log10(CAST(n AS DOUBLE)) AS y FROM r),
        |sm AS (SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
        |  sum(x*x) AS sxx, sum(x*y) AS sxy FROM xy)
        |SELECT k AS n_ranks,
        | round((k*sxy - sx*sy) / (k*sxx - sx*sx), 4) AS zipf_slope,
        | round((sy - (k*sxy - sx*sy) / (k*sxx - sx*sx) * sx) / k, 4) AS intercept
        |FROM sm""".stripMargin,
    // q90: bloom flags (q88's logic) left-joined to exact hits
    // (q57's logic) — FP counts from the same deterministic bloom.
    "q90_bloom_fp_audit" ->
      s"""WITH $shinglesCte,
        |e AS (SELECT doc_id, unnest(sh) AS s FROM t),
        |b AS (SELECT doc_id, s,
        |  ${hex8Sql("concat('bl0|', s)")} % 65536 AS b0,
        |  ${hex8Sql("concat('bl1|', s)")} % 65536 AS b1,
        |  ${hex8Sql("concat('bl2|', s)")} % 65536 AS b2
        | FROM e),
        |pb AS (SELECT DISTINCT bit FROM (
        |  SELECT b0 AS bit FROM b WHERE doc_id < 5
        |  UNION SELECT b1 FROM b WHERE doc_id < 5
        |  UNION SELECT b2 FROM b WHERE doc_id < 5) u),
        |bloom AS (SELECT DISTINCT doc_id FROM b
        | WHERE doc_id >= 5
        |  AND b0 IN (SELECT bit FROM pb)
        |  AND b1 IN (SELECT bit FROM pb)
        |  AND b2 IN (SELECT bit FROM pb)),
        |p AS (SELECT DISTINCT s FROM e WHERE doc_id < 5),
        |exact AS (SELECT DISTINCT e.doc_id FROM e JOIN p ON e.s = p.s
        | WHERE e.doc_id >= 5),
        |j AS (SELECT bloom.doc_id,
        |  CASE WHEN exact.doc_id IS NULL THEN 0 ELSE 1 END AS real
        | FROM bloom LEFT JOIN exact ON bloom.doc_id = exact.doc_id)
        |SELECT count(*) AS n_flagged,
        | CAST(sum(real) AS BIGINT) AS n_real,
        | CAST(count(*) - sum(real) AS BIGINT) AS n_false_pos,
        | round(CAST(count(*) - sum(real) AS DOUBLE) / count(*), 4) AS fp_rate
        |FROM j""".stripMargin,
    // q91: H = log2(n) - sum(c*log2(c))/n — identical formula both
    // engines, double sums rounded to 4.
    "q91_user_entropy" ->
      """WITH ct AS (SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
        |  sum(c * log2(c)) AS slc FROM ct GROUP BY user_id)
        |SELECT user_id, n_events,
        | round(log2(n_events) - slc / n_events, 4) AS entropy
        |FROM a""".stripMargin,
    "q74_dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM c UNION SELECT d2, d1 FROM c),
        |r AS (SELECT v, u FROM adj
        | UNION SELECT r.v, adj.u FROM r, adj WHERE r.u = adj.v),
        |comp AS (SELECT v AS doc_id, least(v, min(u)) AS component
        | FROM r GROUP BY v),
        |sz AS (SELECT component, count(*) AS sz FROM comp GROUP BY component)
        |SELECT sz AS cluster_size, count(*) AS n_clusters
        |FROM sz GROUP BY sz""".stripMargin,
    "q75_embedding_norms" ->
      """WITH q AS (SELECT label, list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        | FROM embeddings),
        |m AS (SELECT label,
        |  sqrt(CAST(CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS DOUBLE))
        |   / 1000000.0 AS nrm FROM q)
        |SELECT label, count(*) AS n_vecs,
        | round(avg(nrm), 4) AS avg_norm,
        | round(min(nrm), 4) AS min_norm,
        | round(max(nrm), 4) AS max_norm
        |FROM m GROUP BY label""".stripMargin,
    "q76_effectively_once" ->
      """SELECT 'events' AS "table", count(*) AS n_mutations,
        | count(DISTINCT user_id) AS n_keys
        |FROM events""".stripMargin,
    "q77_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |c AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN len(ts) >= 2 THEN len(list_filter(range(len(ts) - 1),
        |    i -> ts[CAST(i + 1 AS INTEGER)] = ts[CAST(i + 2 AS INTEGER)]))
        |   ELSE 0 END AS BIGINT) AS n_rep FROM d)
        |SELECT doc_id, n_tokens, n_rep,
        | CASE WHEN n_tokens >= 2
        |  THEN round(CAST(n_rep AS DOUBLE) / (n_tokens - 1), 4)
        |  ELSE 0.0 END AS rep_ratio
        |FROM c""".stripMargin,
    "q79_event_gaps" ->
      """WITH g AS (SELECT user_id,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS gap
        | FROM events)
        |SELECT user_id, count(*) AS n_gaps,
        | CAST(min(gap) AS BIGINT) AS min_gap,
        | CAST(max(gap) AS BIGINT) AS max_gap,
        | CAST(sum(gap) AS DOUBLE) / count(*) AS avg_gap
        |FROM g WHERE gap IS NOT NULL GROUP BY user_id""".stripMargin,
    // q92: HLL registers replayed from the same md5 nibble split
    // (1-2 → register, 3-10 → rank window); harmonic sum is the exact
    // integer Σ 2^(41-Mj), one double division at the end.
    "q92_hll_audit" ->
      s"""WITH k AS (SELECT event_type,
        |  concat(CAST(user_id AS VARCHAR), '|',
        |   CAST(epoch_us(ts) // 86400000000 AS VARCHAR)) AS k
        | FROM events),
        |h AS (SELECT event_type, md5(k) AS h FROM k),
        |rv AS (SELECT event_type,
        |  CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS BIGINT) AS reg,
        |  ${hexNibblesSql("h", 3, 8)} AS v
        | FROM h),
        |rk AS (SELECT event_type, reg,
        |  CASE WHEN v = 0 THEN 33 ELSE 33 - length(bin(v)) END AS rnk FROM rv),
        |regs AS (SELECT event_type, reg, max(rnk) AS mreg
        | FROM rk GROUP BY 1, 2),
        |sums AS (SELECT event_type,
        |  count(*) AS n_occupied,
        |  CAST(sum(1::BIGINT << CAST(41 - mreg AS INTEGER)) AS BIGINT) AS s_occ
        | FROM regs GROUP BY event_type),
        |est AS (SELECT event_type, n_occupied,
        |  256 - n_occupied AS zeros,
        |  (0.7213 / (1 + 1.079 / 256.0)) * 256 * 256 * 2199023255552.0
        |   / CAST(s_occ + (256 - n_occupied) * 2199023255552 AS DOUBLE) AS raw_est
        | FROM sums),
        |e2 AS (SELECT event_type, n_occupied,
        |  CASE WHEN zeros > 0 AND raw_est <= 2.5 * 256
        |   THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE)) ELSE raw_est END AS est_u
        | FROM est),
        |ex AS (SELECT event_type, count(DISTINCT k) AS n_exact
        | FROM k GROUP BY event_type)
        |SELECT e2.event_type, ex.n_exact, e2.n_occupied,
        | round(est_u, 4) AS est,
        | round(abs(est_u - n_exact) / n_exact, 4) AS rel_err
        |FROM e2 JOIN ex USING (event_type)""".stripMargin,
    // q93: positional trigrams with multiplicity (sp) vs the distinct
    // document-frequency set (dsh) — lists built in their own CTEs,
    // unnested in the next (expressions around unnest are unreliable).
    "q93_dup_span_fraction" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents),
        |spl AS (SELECT doc_id, list_transform(range(1, len(ts) - 1),
        |   i -> array_to_string(ts[i:i+2], ' ')) AS shl FROM d),
        |sp AS (SELECT doc_id, unnest(shl) AS sh FROM spl),
        |dshl AS (SELECT doc_id, list_distinct(shl) AS shl FROM spl),
        |dsh AS (SELECT doc_id, unnest(shl) AS sh FROM dshl),
        |freq AS (SELECT sh, count(*) AS docs_with FROM dsh GROUP BY sh),
        |pd AS (SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_dup_spans
        | FROM sp JOIN freq USING (sh) GROUP BY doc_id)
        |SELECT d.doc_id,
        | coalesce(pd.n_spans, 0) AS n_spans,
        | coalesce(pd.n_dup_spans, 0) AS n_dup_spans,
        | CASE WHEN coalesce(pd.n_spans, 0) > 0
        |  THEN round(CAST(pd.n_dup_spans AS DOUBLE) / pd.n_spans, 4)
        |  ELSE 0.0 END AS dup_frac
        |FROM d LEFT JOIN pd USING (doc_id)""".stripMargin,
    // q94: the 5 integer-arithmetic rank rounds unrolled as CTEs over
    // the same band-join edges as q59; DuckDB's HUGEINT sum is cast
    // back per round so every intermediate matches Spark's longs.
    "q94_dedup_pagerank" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM c UNION SELECT d2, d1 FROM c),
        |deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY u),
        |s0 AS (SELECT u AS v, CAST(1000000 AS BIGINT) AS s FROM deg),
        |${(1 to 5).map { i =>
          val prev = if (i == 1) "s0" else s"it${i - 1}"
          s"""it$i AS (SELECT a.v AS v,
             |  CAST(150000 + (850 * sum(p.s // d.deg)) // 1000 AS BIGINT) AS s
             | FROM adj a JOIN $prev p ON a.u = p.v JOIN deg d ON a.u = d.u
             | GROUP BY a.v)""".stripMargin
        }.mkString(",\n")}
        |SELECT v AS doc_id, s AS score_scaled FROM it5""".stripMargin,
    // q95: the funnel state replays as two batch aggregates — first
    // view per user, then the minimum purchase at-or-after it; users
    // with purchases but no views never emit.
    // q115: q95's funnel aggregates + the exact eviction arithmetic —
    // a user flushes iff umax_ms + ttl < gmax_ms (single data batch:
    // the watermark advances once, from -inf to the stream max, so
    // the timeout fires exactly on that integer comparison).
    "q115_funnel_ttl_stream" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |um AS (SELECT user_id, max(ts) AS umax FROM e GROUP BY user_id),
        |g AS (SELECT max(umax) AS gmax FROM um),
        |v AS (SELECT user_id, min(ts) AS first_view FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS conv_ts
        | FROM e JOIN v ON e.user_id = v.user_id
        | WHERE e.event_type = 'purchase' AND e.ts >= v.first_view
        | GROUP BY e.user_id)
        |SELECT v.user_id, v.first_view, p.conv_ts,
        | CASE WHEN um.umax // 1000 + 60000000 < g.gmax // 1000
        |  THEN 1 ELSE 0 END AS evicted
        |FROM v LEFT JOIN p ON v.user_id = p.user_id
        | JOIN um ON v.user_id = um.user_id, g""".stripMargin,
    // q117: oracle ranks each language fully (DuckDB need not scale);
    // Spark's sketch-refine threshold must land on the identical
    // rank-r cut — (n+4)//5 integer quota, (qual, doc_id) total order.
    "q117_quality_cut" ->
      """WITH ql AS (SELECT doc_id, lang,
        |  (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' '))) * 0.5
        |  + (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the', 'a'))) AS DOUBLE)
        |    / len(string_split(text, ' '))) * 0.5 AS qual,
        |  len(string_split(text, ' ')) AS toks FROM documents),
        |n AS (SELECT lang, count(*) AS n, (count(*) + 4) // 5 AS r
        | FROM ql GROUP BY lang),
        |rk AS (SELECT lang, doc_id, qual, toks,
        |  row_number() OVER (PARTITION BY lang ORDER BY qual, doc_id) AS rk
        | FROM ql)
        |SELECT rk.lang, CAST(n.n AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN rk.rk <= n.r THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_dropped,
        | round(max(CASE WHEN rk.rk = n.r THEN qual END), 4)
        |   AS threshold_quality,
        | CAST(sum(CASE WHEN rk.rk > n.r THEN toks ELSE 0 END) AS BIGINT)
        |   AS n_tokens_kept
        |FROM rk JOIN n USING (lang) GROUP BY rk.lang, n.n""".stripMargin,
    // q119: non-overlapping 8-token segment hashes → corpus df →
    // per-doc removal accounting.
    "q119_segment_clean" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |tf AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t
        | WHERE len(toks) >= 8),
        |sg AS (SELECT doc_id, n_tokens, toks,
        |  unnest(range(n_tokens // 8)) AS j FROM tf),
        |sh AS (SELECT doc_id, n_tokens,
        |  md5(array_to_string(
        |    toks[CAST(j*8+1 AS INTEGER):CAST(j*8+8 AS INTEGER)], ' ')) AS h
        | FROM sg),
        |fd AS (SELECT h, count(DISTINCT doc_id) AS df FROM sh GROUP BY h),
        |a AS (SELECT sh.doc_id, max(sh.n_tokens) AS n_tokens,
        |  count(*) AS n_segments,
        |  sum(CASE WHEN fd.df > 1 THEN 1 ELSE 0 END) AS n_dup
        | FROM sh JOIN fd USING (h) GROUP BY sh.doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        | CAST(n_segments AS BIGINT) AS n_segments,
        | CAST(n_dup AS BIGINT) AS n_dup_segments,
        | CAST(n_tokens - n_dup * 8 AS BIGINT) AS n_tokens_clean,
        | round(CAST(n_dup * 8 AS DOUBLE) / n_tokens, 4) AS dup_token_frac
        |FROM a""".stripMargin,
    // q120: q22's band candidates restricted to cross-source pairs,
    // folded to the unordered source-pair matrix.
    "q120_source_overlap" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |j AS (SELECT da.source AS s1, db.source AS s2 FROM c
        | JOIN documents da ON c.d1 = da.doc_id
        | JOIN documents db ON c.d2 = db.doc_id)
        |SELECT least(s1, s2) AS source_a, greatest(s1, s2) AS source_b,
        | count(*) AS n_pairs
        |FROM j WHERE s1 <> s2 GROUP BY 1, 2""".stripMargin,
    // q118: q24's banding chain ∪ q99's IVF chain (CTEs renamed to
    // coexist), merged full-outer on the pair key with provenance.
    "q118_embed_union" ->
      s"""WITH $quantCte,
        |$embedBandCtes,
        |cb AS (SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
        | FROM bd x JOIN bd y ON x.band = y.band AND x.band_key = y.band_key
        |  AND x.vec_id < y.vec_id),
        |eb AS (SELECT id1, id2, $cosExpr AS cosine
        | FROM cb JOIN m a ON id1 = a.vec_id JOIN m b ON id2 = b.vec_id
        | WHERE $cosExpr >= 0.4),
        |mm AS (SELECT e.vec_id, e.label, list_transform(e.embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        | FROM embeddings e),
        |mn AS (SELECT vec_id, label, v,
        |  CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM mm),
        |cu AS (SELECT label, unnest(v) AS x,
        |  generate_subscripts(v, 1) - 1 AS pos FROM mm),
        |cs AS (SELECT label, pos, sum(x) AS sx, count(*) AS nv FROM cu GROUP BY 1, 2),
        |cl AS (SELECT label,
        |  list(CAST(trunc(CAST(sx AS DOUBLE) / nv) AS BIGINT) ORDER BY pos) AS cv
        | FROM cs GROUP BY label),
        |cn AS (SELECT label, cv,
        |  CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS cn2 FROM cl),
        |ac AS (SELECT mn.vec_id, mn.v, mn.n2, cn.label,
        |  CAST(CAST(list_sum(list_transform(range(64), i -> mn.v[i+1] * cn.cv[i+1])) AS BIGINT) AS DOUBLE)
        |   / (sqrt(CAST(mn.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE))) AS ccos
        | FROM mn, cn),
        |asg AS (SELECT vec_id, v, n2, cell FROM (SELECT vec_id, v, n2,
        |   label AS cell, row_number() OVER (PARTITION BY vec_id
        |     ORDER BY ccos DESC, label) AS rk FROM ac) t WHERE rk = 1),
        |ei AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  CAST(CAST(list_sum(list_transform(range(64), i -> a.v[i+1] * b.v[i+1])) AS BIGINT) AS DOUBLE)
        |   / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
        | FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        | WHERE CAST(CAST(list_sum(list_transform(range(64), i -> a.v[i+1] * b.v[i+1])) AS BIGINT) AS DOUBLE)
        |   / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.4)
        |SELECT coalesce(eb.id1, ei.id1) AS id1,
        | coalesce(eb.id2, ei.id2) AS id2,
        | coalesce(eb.cosine, ei.cosine) AS cosine,
        | CASE WHEN eb.id1 IS NOT NULL THEN 1 ELSE 0 END AS in_band,
        | CASE WHEN ei.id1 IS NOT NULL THEN 1 ELSE 0 END AS in_ivf
        |FROM eb FULL OUTER JOIN ei
        | ON eb.id1 = ei.id1 AND eb.id2 = ei.id2""".stripMargin,
    // q116: per-day top-3 events by (value desc, event_id asc) —
    // the deterministic total order TopKAgg enforces.
    "q116_stream_topk" ->
      """WITH w AS (SELECT epoch_us(ts) - epoch_us(ts) % 86400000000
        |   AS window_start, event_id, value FROM events),
        |r AS (SELECT window_start, event_id, value,
        |  row_number() OVER (PARTITION BY window_start
        |    ORDER BY value DESC, event_id) AS rank FROM w)
        |SELECT window_start, CAST(rank AS BIGINT) AS rank, event_id, value
        |FROM r WHERE rank <= 3""".stripMargin,
    "q95_stream_funnel" ->
      """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS first_view
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS conv_ts
        | FROM events e JOIN v ON e.user_id = v.user_id
        | WHERE e.event_type = 'purchase'
        |  AND epoch_us(e.ts) >= v.first_view
        | GROUP BY e.user_id)
        |SELECT v.user_id, v.first_view, p.conv_ts,
        | CASE WHEN p.conv_ts IS NOT NULL THEN 1 ELSE 0 END AS converted
        |FROM v LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,
    // q96: same md5-uniform draw and ln(u)/w key on both engines;
    // SELECTION orders by the ppm-rounded key + doc_id (not the raw
    // double) so a libm ln() ulp divergence at the k-th boundary
    // cannot pick different docs cross-engine.
    "q96_weighted_sample" ->
      s"""WITH u AS (SELECT doc_id, n_chars,
        |  (CAST(${hex8Sql("concat('wsample|', CAST(doc_id AS VARCHAR))")}
        |    AS DOUBLE) + 0.5) / 4294967296.0 AS u
        | FROM documents WHERE n_chars > 0),
        |k AS (SELECT doc_id, n_chars AS weight,
        |  round(ln(u) / CAST(n_chars AS DOUBLE) * 1e6, 4) AS key_ppm FROM u)
        |SELECT doc_id, weight, key_ppm
        |FROM k ORDER BY key_ppm DESC, doc_id LIMIT 50""".stripMargin,
    // q97: the quantile literal is CAST to DOUBLE so ceil(q*n) is the
    // same IEEE multiply on both engines (DuckDB VALUES would
    // otherwise keep it DECIMAL and ceil exactly).
    "q97_hist_quantiles" ->
      """WITH b2 AS (SELECT vc, vc // 10000 AS bin FROM (
        |  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS vc
        |  FROM lineitem) t),
        |hist AS (SELECT bin, count(*) AS cnt FROM b2 GROUP BY bin),
        |cumh AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum
        | FROM hist),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
        |qs AS (SELECT * FROM (VALUES ('p50', 0.5), ('p90', 0.9),
        |  ('p99', 0.99)) AS t(q_label, q)),
        |tg AS (SELECT q_label, n,
        |  CAST(ceil(CAST(q AS DOUBLE) * n) AS BIGINT) AS rnk FROM qs, tot),
        |picked AS (SELECT q_label, n, rnk, bin, rnk - (cum - cnt) AS off,
        |  bin * 10000 + 9999 AS est_cents
        | FROM tg JOIN cumh ON cum >= rnk AND cum - cnt < rnk),
        |rs AS (SELECT p.q_label, p.n, p.rnk, p.est_cents, b2.vc, p.off,
        |  row_number() OVER (PARTITION BY p.q_label ORDER BY b2.vc) AS rn
        | FROM b2 JOIN picked p ON b2.bin = p.bin)
        |SELECT q_label, n, rnk, est_cents, vc AS exact_cents,
        | est_cents - vc AS err_cents
        |FROM rs WHERE rn = off""".stripMargin,
    // q98: exact distinct-shingle intersect on the band candidates;
    // containment rounded before the floor so both engines compare
    // the same 4-decimal value.
    "q98_containment_pairs" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |j AS (SELECT c.d1, c.d2,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS common,
        |  CAST(len(a.sh) AS BIGINT) AS n1, CAST(len(b.sh) AS BIGINT) AS n2
        | FROM c JOIN t a ON c.d1 = a.doc_id JOIN t b ON c.d2 = b.doc_id)
        |SELECT d1, d2, n1, n2, common AS n_common,
        | round(CAST(common AS DOUBLE) / least(n1, n2), 4) AS containment,
        | round(CAST(common AS DOUBLE) / (n1 + n2 - common), 4) AS jaccard
        |FROM j
        |WHERE round(CAST(common AS DOUBLE) / least(n1, n2), 4) >= 0.5""".stripMargin,
    // q109: q24's verified pairs → recursive closure → max-norm
    // keeper per component (norm ties to the smallest vec_id).
    "q109_embed_clusters" ->
      s"""WITH RECURSIVE $quantCte,
        |$embedBandCtes,
        |c AS (SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
        | FROM bd x JOIN bd y ON x.band = y.band AND x.band_key = y.band_key
        |  AND x.vec_id < y.vec_id),
        |e AS (SELECT id1, id2
        | FROM c JOIN m a ON id1 = a.vec_id JOIN m b ON id2 = b.vec_id
        | WHERE $cosExpr >= 0.4),
        |adj AS (SELECT id1 AS v, id2 AS u FROM e UNION SELECT id2, id1 FROM e),
        |r AS (SELECT v, u FROM adj
        | UNION SELECT r.v, adj.u FROM r, adj WHERE r.u = adj.v),
        |comp AS (SELECT v AS doc_id, least(v, min(u)) AS component
        | FROM r GROUP BY v),
        |j AS (SELECT comp.component, comp.doc_id, m.n2,
        |  row_number() OVER (PARTITION BY comp.component
        |    ORDER BY m.n2 DESC, comp.doc_id) AS rk
        | FROM comp JOIN m ON comp.doc_id = m.vec_id)
        |SELECT component, count(*) AS n_vecs,
        | CAST(min(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS keep_id,
        | CAST(max(n2) AS BIGINT) AS keep_n2
        |FROM j GROUP BY component""".stripMargin,
    // q108: exact integer moment sums (HUGEINT ≙ Spark decimal(38)),
    // cast to double only for the final identical IEEE r formula.
    "q108_corr_profile" -> {
      def rSql(sx: String, sy: String, sxx: String, syy: String, sxy: String) =
        s"""round((CAST(n AS DOUBLE) * CAST($sxy AS DOUBLE)
           |   - CAST($sx AS DOUBLE) * CAST($sy AS DOUBLE))
           | / (sqrt(CAST(n AS DOUBLE) * CAST($sxx AS DOUBLE)
           |     - CAST($sx AS DOUBLE) * CAST($sx AS DOUBLE))
           |   * sqrt(CAST(n AS DOUBLE) * CAST($syy AS DOUBLE)
           |     - CAST($sy AS DOUBLE) * CAST($sy AS DOUBLE))), 4)""".stripMargin
      s"""WITH b AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS a,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS bb,
        |  CAST(round(l_discount * 100) AS BIGINT) AS cc FROM lineitem),
        |g AS (SELECT count(*) AS n,
        |  sum(a) AS sa, sum(bb) AS sb, sum(cc) AS sc,
        |  sum(a*a) AS saa, sum(bb*bb) AS sbb, sum(cc*cc) AS scc,
        |  sum(a*bb) AS sab, sum(a*cc) AS sac, sum(bb*cc) AS sbc FROM b)
        |SELECT 'quantity' AS x_col, 'price' AS y_col, n,
        |  ${rSql("sa", "sb", "saa", "sbb", "sab")} AS r FROM g
        |UNION ALL
        |SELECT 'quantity', 'discount', n,
        |  ${rSql("sa", "sc", "saa", "scc", "sac")} FROM g
        |UNION ALL
        |SELECT 'price', 'discount', n,
        |  ${rSql("sb", "sc", "sbb", "scc", "sbc")} FROM g""".stripMargin
    },
    // q107: CMS self-inner-product F2 estimate, min over rows, vs
    // the exact Σ c(k)² — all BIGINT (DuckDB sums cast back).
    "q107_selfjoin_size_sketch" ->
      s"""WITH k AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
        |rr AS (SELECT unnest(range(4)) AS r),
        |bu AS (SELECT k.k, rr.r,
        |  ${hex8Sql("concat('js', rr.r, '|', k.k)")} % 256 AS b
        | FROM k, rr),
        |cms AS (SELECT r, b, count(*) AS cnt FROM bu GROUP BY 1, 2),
        |f2 AS (SELECT r, CAST(sum(cnt * cnt) AS BIGINT) AS f2_r
        | FROM cms GROUP BY r),
        |est AS (SELECT CAST(min(f2_r) AS BIGINT) AS est_f2,
        |  count(*) AS n_sketch_rows FROM f2),
        |ky AS (SELECT k, count(*) AS c FROM k GROUP BY k),
        |ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2,
        |  CAST(sum(c) AS BIGINT) AS n_rows FROM ky)
        |SELECT ex.n_rows, ex.exact_f2, est.est_f2,
        | est.est_f2 - ex.exact_f2 AS overestimate
        |FROM est, ex""".stripMargin,
    // q105: delta (odd ids) probed against base (even ids) — exact
    // md5 membership + band collision, folded to a verdict.
    "q105_incremental_dedup" -> incrementalDedupOracle,
    // q111: the SAME oracle as q105 on purpose — the persisted-index
    // path (writeBaseIndex parquet once, probeBaseIndex from the
    // index + delta only) must compute exactly the inline verdicts.
    "q111_persisted_incremental" -> incrementalDedupOracle,
    // q112: q106's closure + canonical argmax extended with the
    // token-savings accounting (keeper toks picked by the same rk=1).
    "q112_dedup_report" ->
      s"""WITH RECURSIVE $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM c UNION SELECT d2, d1 FROM c),
        |r AS (SELECT v, u FROM adj
        | UNION SELECT r.v, adj.u FROM r, adj WHERE r.u = adj.v),
        |comp AS (SELECT v AS doc_id, least(v, min(u)) AS component
        | FROM r GROUP BY v),
        |ql AS (SELECT doc_id,
        |  (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' '))) * 0.5
        |  + (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the', 'a'))) AS DOUBLE)
        |    / len(string_split(text, ' '))) * 0.5 AS qual,
        |  len(string_split(text, ' ')) AS toks
        | FROM documents),
        |j AS (SELECT comp.component, comp.doc_id, ql.qual, ql.toks,
        |  row_number() OVER (PARTITION BY comp.component
        |    ORDER BY ql.qual DESC, comp.doc_id) AS rk
        | FROM comp JOIN ql ON comp.doc_id = ql.doc_id)
        |SELECT component, count(*) AS n_docs,
        | CAST(min(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS keep_id,
        | round(max(qual), 4) AS keep_quality,
        | CAST(sum(toks) AS BIGINT) AS n_tokens,
        | CAST(sum(toks) - min(CASE WHEN rk = 1 THEN toks END) AS BIGINT)
        |   AS tokens_dropped
        |FROM j GROUP BY component""".stripMargin,
    // q106: q59's recursive closure + q28's quality formula + argmax
    // per component (quality desc, doc_id asc).
    "q106_cluster_canonical" ->
      s"""WITH RECURSIVE $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM c UNION SELECT d2, d1 FROM c),
        |r AS (SELECT v, u FROM adj
        | UNION SELECT r.v, adj.u FROM r, adj WHERE r.u = adj.v),
        |comp AS (SELECT v AS doc_id, least(v, min(u)) AS component
        | FROM r GROUP BY v),
        |ql AS (SELECT doc_id,
        |  (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' '))) * 0.5
        |  + (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the', 'a'))) AS DOUBLE)
        |    / len(string_split(text, ' '))) * 0.5 AS qual
        | FROM documents),
        |j AS (SELECT comp.component, comp.doc_id, ql.qual,
        |  row_number() OVER (PARTITION BY comp.component
        |    ORDER BY ql.qual DESC, comp.doc_id) AS rk
        | FROM comp JOIN ql ON comp.doc_id = ql.doc_id)
        |SELECT component, count(*) AS n_docs,
        | CAST(min(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS keep_id,
        | round(max(qual), 4) AS keep_quality
        |FROM j GROUP BY component""".stripMargin,
    // q104: same lead() sequencing and row normalization; p rounded
    // to 4 (identical-expression division, rounding for safety only).
    "q104_markov_transitions" ->
      """WITH s AS (SELECT user_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS next_type
        | FROM events),
        |c AS (SELECT event_type AS from_type, next_type AS to_type,
        |  count(*) AS n FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        | round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 4) AS p
        |FROM c""".stripMargin,
    // q103: forward mirror of q62 — earliest purchase ≥ view time,
    // ties to the smallest event_id (AsOf forward tiebreak = min).
    "q103_asof_forward" ->
      """WITH v AS (SELECT user_id, event_id, ts FROM events
        |  WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT user_id, view_id, view_ts, next_purchase_id,
        | next_purchase_ts FROM (
        | SELECT v.user_id, v.event_id AS view_id,
        |  epoch_us(v.ts) AS view_ts,
        |  p.event_id AS next_purchase_id, epoch_us(p.ts) AS next_purchase_ts,
        |  row_number() OVER (PARTITION BY v.user_id, v.event_id
        |    ORDER BY p.ts, p.event_id) AS rk
        | FROM v LEFT JOIN p ON v.user_id = p.user_id AND p.ts >= v.ts) t
        |WHERE rk = 1""".stripMargin,
    // q102: the k smallest md5 buckets per language; rank cast to
    // BIGINT (DuckDB row_number is BIGINT, Spark pos is int32).
    "q102_quota_sample" ->
      s"""WITH k AS (SELECT lang, doc_id,
        |  ${hex8Sql("concat('quota|', CAST(doc_id AS VARCHAR))")} AS bucket
        | FROM documents),
        |r AS (SELECT lang, doc_id, bucket,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY bucket, doc_id) AS rank FROM k)
        |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, bucket
        |FROM r WHERE rank <= 20""".stripMargin,
    // q101: trigram hashes per position (unnest+generate_subscripts,
    // the proven q38 pattern — nested lambdas around unnest are
    // unreliable), rebuilt ordered, window-min winnowed, then the
    // capped posting join.
    "q101_winnow_pairs" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents WHERE len(string_split(text, ' ')) >= 6),
        |tr AS (SELECT doc_id, list_transform(range(1, len(ts) - 1),
        |   i -> array_to_string(ts[i:i+2], ' ')) AS tri FROM d),
        |tr2 AS (SELECT doc_id, unnest(tri) AS t,
        |  generate_subscripts(tri, 1) AS pos FROM tr),
        |th AS (SELECT doc_id, pos,
        |  ${hex8Sql("concat('wn|', t)")} AS h FROM tr2),
        |hl AS (SELECT doc_id, list(h ORDER BY pos) AS hs FROM th
        | GROUP BY doc_id),
        |fp0 AS (SELECT doc_id, list_distinct(list_transform(
        |   range(1, len(hs) - 2), j -> list_min(hs[j:j+3]))) AS fps
        | FROM hl WHERE len(hs) >= 4),
        |fpe AS (SELECT doc_id, unnest(fps) AS fp FROM fp0),
        |po AS (SELECT fp, count(*) AS df FROM fpe GROUP BY fp),
        |cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2
        | FROM fpe a JOIN fpe b ON a.fp = b.fp AND a.doc_id < b.doc_id
        | JOIN po ON a.fp = po.fp WHERE po.df BETWEEN 2 AND 50)
        |SELECT d1, d2, count(*) AS n_shared
        |FROM cand GROUP BY d1, d2 HAVING count(*) >= 2""".stripMargin,
    // q110: q101's fingerprint CTEs, then the hot-posting report
    // (df > 5) instead of the capped pairing.
    "q110_boilerplate_report" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents WHERE len(string_split(text, ' ')) >= 6),
        |tr AS (SELECT doc_id, list_transform(range(1, len(ts) - 1),
        |   i -> array_to_string(ts[i:i+2], ' ')) AS tri FROM d),
        |tr2 AS (SELECT doc_id, unnest(tri) AS t,
        |  generate_subscripts(tri, 1) AS pos FROM tr),
        |th AS (SELECT doc_id, pos,
        |  ${hex8Sql("concat('wn|', t)")} AS h FROM tr2),
        |hl AS (SELECT doc_id, list(h ORDER BY pos) AS hs FROM th
        | GROUP BY doc_id),
        |fp0 AS (SELECT doc_id, list_distinct(list_transform(
        |   range(1, len(hs) - 2), j -> list_min(hs[j:j+3]))) AS fps
        | FROM hl WHERE len(hs) >= 4),
        |fpe AS (SELECT doc_id, unnest(fps) AS fp FROM fp0)
        |SELECT fp, count(*) AS n_docs, min(doc_id) AS sample_doc_id
        |FROM fpe GROUP BY fp HAVING count(*) > 5""".stripMargin,
    // q99: q38's centroid-assignment CTEs, then the within-cell
    // self-join with the exact integer cosine.
    "q99_ivf_self_join" ->
      """WITH q AS (SELECT vec_id, label, list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        | FROM embeddings),
        |m AS (SELECT vec_id, label, v,
        |  CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM q),
        |cu AS (SELECT label, unnest(v) AS x,
        |  generate_subscripts(v, 1) - 1 AS pos FROM q),
        |cs AS (SELECT label, pos, sum(x) AS sx, count(*) AS nv FROM cu GROUP BY 1, 2),
        |cl AS (SELECT label,
        |  list(CAST(trunc(CAST(sx AS DOUBLE) / nv) AS BIGINT) ORDER BY pos) AS cv
        | FROM cs GROUP BY label),
        |cn AS (SELECT label, cv,
        |  CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS cn2 FROM cl),
        |ac AS (SELECT m.vec_id, m.v, m.n2, cn.label,
        |  CAST(CAST(list_sum(list_transform(range(64), i -> m.v[i+1] * cn.cv[i+1])) AS BIGINT) AS DOUBLE)
        |   / (sqrt(CAST(m.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE))) AS ccos
        | FROM m, cn),
        |asg AS (SELECT vec_id, v, n2, cell FROM (SELECT vec_id, v, n2,
        |   label AS cell, row_number() OVER (PARTITION BY vec_id
        |     ORDER BY ccos DESC, label) AS rk FROM ac) t WHERE rk = 1)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        | CAST(a.cell AS BIGINT) AS cell,
        | CAST(CAST(list_sum(list_transform(range(64), i -> a.v[i+1] * b.v[i+1])) AS BIGINT) AS DOUBLE)
        |  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
        |FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |WHERE CAST(CAST(list_sum(list_transform(range(64), i -> a.v[i+1] * b.v[i+1])) AS BIGINT) AS DOUBLE)
        |  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.4""".stripMargin,
    // q136: the profiling transpose (one UNION ALL per column ≙
    // Spark's single-scan explode), grouped stats + q92's register
    // pipeline per column; distinctness at integer-cent grain.
    "q136_table_profile" -> {
      def colSel(c: String) =
        s"SELECT '$c' AS col0, CAST(round($c * 100) AS BIGINT) AS vc FROM lineitem"
      s"""WITH en AS (${Seq("l_quantity", "l_extendedprice", "l_discount",
          "l_linenumber").map(colSel).mkString("\n UNION ALL ")}),
        |base AS (SELECT col0, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN vc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  min(vc) AS min_cents, max(vc) AS max_cents,
        |  count(DISTINCT vc) AS n_distinct
        | FROM en GROUP BY col0),
        |h AS (SELECT col0, md5(CAST(vc AS VARCHAR)) AS h FROM en
        | WHERE vc IS NOT NULL),
        |rv AS (SELECT col0,
        |  CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS BIGINT) AS reg,
        |  ${hexNibblesSql("h", 3, 8)} AS v
        | FROM h),
        |rk AS (SELECT col0, reg,
        |  CASE WHEN v = 0 THEN 33 ELSE 33 - length(bin(v)) END AS rnk FROM rv),
        |regs AS (SELECT col0, reg, max(rnk) AS mreg FROM rk GROUP BY 1, 2),
        |sums AS (SELECT col0, count(*) AS n_occupied,
        |  CAST(sum(1::BIGINT << CAST(41 - mreg AS INTEGER)) AS BIGINT) AS s_occ
        | FROM regs GROUP BY col0),
        |est AS (SELECT col0,
        |  CASE WHEN (256 - n_occupied) > 0 AND
        |    (0.7213 / (1 + 1.079 / 256.0)) * 256 * 256 * 2199023255552.0
        |     / CAST(s_occ + (256 - n_occupied) * 2199023255552 AS DOUBLE) <= 2.5 * 256
        |   THEN 256.0 * ln(256.0 / CAST(256 - n_occupied AS DOUBLE))
        |   ELSE (0.7213 / (1 + 1.079 / 256.0)) * 256 * 256 * 2199023255552.0
        |     / CAST(s_occ + (256 - n_occupied) * 2199023255552 AS DOUBLE) END AS est_u
        | FROM sums)
        |SELECT base.col0 AS "column", n_rows, n_null, min_cents, max_cents,
        | n_distinct, round(est_u, 4) AS distinct_est,
        | round(abs(est_u - n_distinct) / CAST(n_distinct AS DOUBLE), 4) AS rel_err
        |FROM base JOIN est ON base.col0 = est.col0""".stripMargin
    },
    // q137: md5 bloom bits of the urgent keys, probe rows pass iff
    // all 3 bits set; result == the plain join (FPs die in the real
    // join); audit counts the filter's pruning power.
    "q137_bloom_semi_join" ->
      s"""WITH u AS (SELECT o_orderkey FROM orders
        | WHERE o_orderpriority = '1-URGENT'),
        |bb AS (SELECT DISTINCT bit FROM (
        | SELECT ${hex8Sql("concat('bj0|', CAST(o_orderkey AS VARCHAR))")} % 65536 AS bit FROM u
        | UNION ALL
        | SELECT ${hex8Sql("concat('bj1|', CAST(o_orderkey AS VARCHAR))")} % 65536 FROM u
        | UNION ALL
        | SELECT ${hex8Sql("concat('bj2|', CAST(o_orderkey AS VARCHAR))")} % 65536 FROM u) t),
        |li AS (SELECT l_orderkey,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |  ${hex8Sql("concat('bj0|', CAST(l_orderkey AS VARCHAR))")} % 65536 AS b0,
        |  ${hex8Sql("concat('bj1|', CAST(l_orderkey AS VARCHAR))")} % 65536 AS b1,
        |  ${hex8Sql("concat('bj2|', CAST(l_orderkey AS VARCHAR))")} % 65536 AS b2
        | FROM lineitem),
        |pass AS (SELECT l_orderkey, cents FROM li
        | WHERE b0 IN (SELECT bit FROM bb) AND b1 IN (SELECT bit FROM bb)
        |  AND b2 IN (SELECT bit FROM bb)),
        |j AS (SELECT count(*) AS n_joined,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents
        | FROM pass JOIN u ON l_orderkey = o_orderkey),
        |a AS (SELECT count(*) AS n_bloom_pass FROM pass)
        |SELECT n_bloom_pass, n_joined, n_bloom_pass - n_joined AS n_false_pos,
        | revenue_cents
        |FROM j, a""".stripMargin,
    // q144: q96's md5-uniform + the Laplace inverse CDF; 4-decimal
    // rounding absorbs libm ln() ulp divergence.
    "q144_dp_noise" ->
      s"""WITH c AS (SELECT c_mktsegment, count(*) AS n FROM customer
        | GROUP BY 1),
        |u AS (SELECT c_mktsegment, n,
        |  (CAST(${hex8Sql("concat('dp|', c_mktsegment)")} AS DOUBLE) + 0.5)
        |    / 4294967296.0 - 0.5 AS cu
        | FROM c)
        |SELECT c_mktsegment, n,
        | round(n + (-2.0) * sign(cu) * ln(1.0 - 2.0 * abs(cu)), 4) AS n_noisy,
        | round((-2.0) * sign(cu) * ln(1.0 - 2.0 * abs(cu)), 4) AS noise,
        | CAST(0.5 AS DOUBLE) AS epsilon
        |FROM u""".stripMargin,
    // q149: per-split doc/token counts under the q147 cluster-keyed
    // assignment — the 98/1/1 balance audit.
    "q149_split_manifest" ->
      s"""WITH RECURSIVE $shinglesCte,
        |$minhashSigCte,
        |p AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM p UNION SELECT d2, d1 FROM p),
        |r AS (SELECT v, u FROM adj
        | UNION SELECT r.v, adj.u FROM r, adj WHERE r.u = adj.v),
        |comp AS (SELECT v AS doc_id, least(v, min(u)) AS component
        | FROM r GROUP BY v),
        |sp AS (SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS toks,
        |  CASE WHEN ${hex8Sql(
             "concat('sp|', CAST(coalesce(comp.component, d.doc_id) AS VARCHAR))")} % 100 < 98
        |    THEN 'train'
        |   WHEN ${hex8Sql(
             "concat('sp|', CAST(coalesce(comp.component, d.doc_id) AS VARCHAR))")} % 100 = 98
        |    THEN 'val'
        |   ELSE 'test' END AS split
        | FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id),
        |ag AS (SELECT split, count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens FROM sp GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM ag)
        |SELECT split, n_docs, n_tokens,
        | round(n_docs / CAST(total AS DOUBLE), 4) AS doc_frac
        |FROM ag, tt""".stripMargin,
    // q148: two CMS sketches over differently filtered lineitem
    // views; est join size = min_r of the bucket inner product.
    "q148_joinsize_sketch" ->
      s"""WITH a AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
        |  WHERE l_returnflag = 'R'),
        |b AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
        |  WHERE l_linestatus = 'O'),
        |rr AS (SELECT unnest(range(4)) AS r),
        |cma AS (SELECT rr.r,
        |  ${hex8Sql("concat('xj', rr.r, '|', a.k)")} % 256 AS b,
        |  count(*) AS ca FROM a, rr GROUP BY 1, 2),
        |cmb AS (SELECT rr.r,
        |  ${hex8Sql("concat('xj', rr.r, '|', b.k)")} % 256 AS b,
        |  count(*) AS cb FROM b, rr GROUP BY 1, 2),
        |ip AS (SELECT cma.r, CAST(sum(ca * cb) AS BIGINT) AS ip_r
        | FROM cma JOIN cmb ON cma.r = cmb.r AND cma.b = cmb.b
        | GROUP BY 1),
        |est AS (SELECT CAST(min(ip_r) AS BIGINT) AS est_join_size FROM ip),
        |ka AS (SELECT k, count(*) AS ca FROM a GROUP BY 1),
        |kb AS (SELECT k, count(*) AS cb FROM b GROUP BY 1),
        |ex AS (SELECT CAST(coalesce(sum(ka.ca * kb.cb), 0) AS BIGINT)
        |  AS exact_join_size FROM ka JOIN kb ON ka.k = kb.k),
        |na AS (SELECT count(*) AS n_rows_a FROM a),
        |nb AS (SELECT count(*) AS n_rows_b FROM b)
        |SELECT n_rows_a, n_rows_b, exact_join_size, est_join_size,
        | est_join_size - exact_join_size AS overestimate
        |FROM na, nb, ex, est""".stripMargin,
    // q147: q146 re-run with the split keyed on the q59 component
    // label (doc id for singletons) — off-diagonal structurally empty.
    "q147_coherent_split" ->
      s"""WITH RECURSIVE $shinglesCte,
        |$minhashSigCte,
        |p AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM p UNION SELECT d2, d1 FROM p),
        |r AS (SELECT v, u FROM adj
        | UNION SELECT r.v, adj.u FROM r, adj WHERE r.u = adj.v),
        |comp AS (SELECT v AS doc_id, least(v, min(u)) AS component
        | FROM r GROUP BY v),
        |sp AS (SELECT d.doc_id,
        |  CASE WHEN ${hex8Sql(
             "concat('sp|', CAST(coalesce(comp.component, d.doc_id) AS VARCHAR))")} % 100 < 98
        |    THEN 'train'
        |   WHEN ${hex8Sql(
             "concat('sp|', CAST(coalesce(comp.component, d.doc_id) AS VARCHAR))")} % 100 = 98
        |    THEN 'val'
        |   ELSE 'test' END AS split
        | FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id)
        |SELECT least(sa.split, sb.split) AS s1,
        | greatest(sa.split, sb.split) AS s2,
        | count(*) AS n_pairs,
        | least(sa.split, sb.split) <> greatest(sa.split, sb.split)
        |   AS cross_split
        |FROM p JOIN sp sa ON p.d1 = sa.doc_id
        | JOIN sp sb ON p.d2 = sb.doc_id
        |GROUP BY 1, 2, 4""".stripMargin,
    // q150: snapshot diff — full outer join on doc_id between the two
    // deterministically derived corpus versions, digest compare,
    // per-source status roll-up.
    "q150_snapshot_diff" ->
      """WITH oldd AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 5 = 1 THEN concat('draft: ', text)
        |       ELSE text END AS text
        | FROM documents WHERE doc_id % 11 <> 0),
        |newd AS (SELECT doc_id, source, text FROM documents
        | WHERE doc_id % 13 <> 0),
        |j AS (SELECT coalesce(n.source, o.source) AS source,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN md5(o.text) <> md5(n.text) THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  coalesce(length(n.text), 0) - coalesce(length(o.text), 0) AS delta
        | FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id)
        |SELECT source,
        | CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_added,
        | CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_removed,
        | CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_changed,
        | CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_unchanged,
        | CAST(sum(delta) AS BIGINT) AS char_delta
        |FROM j GROUP BY source""".stripMargin,
    // q151: histogram-estimated equal-frequency range boundaries +
    // array-comparison bucket assignment + balance report.
    "q151_range_buckets" ->
      """WITH h AS (SELECT n_chars // 32 AS bin, count(*) AS cnt
        | FROM documents GROUP BY 1),
        |cum AS (SELECT bin, cnt,
        |  CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum FROM h),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
        |ks AS (SELECT unnest(range(1, 8)) AS k),
        |bd AS (SELECT (bin + 1) * 32 AS boundary
        | FROM ks, t, cum
        | WHERE cum * 8 >= k * n AND (cum - cnt) * 8 < k * n),
        |bl AS (SELECT list_sort(list(boundary)) AS bds FROM bd),
        |asg AS (SELECT d.n_chars,
        |  CAST(len(list_filter(bl.bds, b -> d.n_chars >= b)) AS BIGINT)
        |    AS bucket
        | FROM documents d, bl),
        |ag AS (SELECT bucket, count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        | FROM asg GROUP BY 1)
        |SELECT bucket, n_docs, min_chars, max_chars,
        | round(n_docs / CAST(t.n AS DOUBLE), 4) AS doc_frac
        |FROM ag, t""".stripMargin,
    // q171: q155's recall computation per nprobe arm (the pr CTE's
    // rk bound swapped per arm), one UNION ALL row each.
    "q171_nprobe_sweep" -> (1 to 3).map { np =>
      s"""SELECT * FROM (WITH ${ivfScoreCtes.replace("rk <= 2", s"rk <= $np")},
        |ivf AS (SELECT query_id, neighbor_id FROM (
        | SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS rank
        | FROM sc) t WHERE rank <= 3),
        |scx AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  $cosExpr AS cosine
        | FROM m a JOIN m b ON a.vec_id < 5 AND b.vec_id >= 5),
        |ex AS (SELECT query_id, neighbor_id FROM (
        | SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS rank
        | FROM scx) t WHERE rank <= 3),
        |j AS (SELECT ex.query_id,
        |  CASE WHEN ivf.neighbor_id IS NULL THEN 0 ELSE 1 END AS found
        | FROM ex LEFT JOIN ivf ON ex.query_id = ivf.query_id
        |  AND ex.neighbor_id = ivf.neighbor_id)
        |SELECT CAST($np AS BIGINT) AS nprobe,
        | CAST(count(*) AS BIGINT) AS n_exact,
        | CAST(sum(found) AS BIGINT) AS n_hit,
        | (CAST(sum(found) AS BIGINT) * 1000000) // count(*) AS recall_ppm,
        | CAST(${np * 100000} AS BIGINT) AS probe_cost_ppm
        |FROM j)""".stripMargin }.mkString("\nUNION ALL\n"),
    // q173: cutoff = t0 + 80% of range (integer µs), features from
    // strictly-pre rows, churned = 1 - any-post, one conditional agg.
    "q173_pit_features" ->
      """WITH e AS (SELECT user_id, event_type, value, epoch_us(ts) AS ts
        | FROM events),
        |b AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM e),
        |c AS (SELECT t0 + ((t1 - t0) * 4) // 5 AS cutoff FROM b)
        |SELECT user_id,
        | CAST(sum(CASE WHEN ts < cutoff THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_pre,
        | CAST(sum(CASE WHEN ts < cutoff AND event_type = 'error'
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_err_pre,
        | CAST(sum(CASE WHEN ts < cutoff
        |   THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |   AS value_cents_pre,
        | CAST(count(DISTINCT CASE WHEN ts < cutoff
        |   THEN ts // 86400000000 END) AS BIGINT) AS active_days_pre,
        | CAST(1 - max(CASE WHEN ts >= cutoff THEN 1 ELSE 0 END) AS BIGINT)
        |   AS churned
        |FROM e CROSS JOIN c
        |GROUP BY user_id""".stripMargin,
    // q172: BM25 more-like-this arm (corpus-wide stats, candidates
    // doc_id>=5, rank on round(score,4)) + q25's cosine arm, fused
    // by integer RRF (1000000 // (60+rank)); top-5 per query with
    // arm-provenance flags.
    "q172_hybrid_rrf" ->
      s"""WITH $quantCte,
        |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        | FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |qs AS (SELECT doc_id AS query_id,
        |  unnest(list_distinct(string_split(text, ' '))) AS tok
        | FROM documents WHERE doc_id < 5),
        |sc AS (SELECT qs.query_id, tf.doc_id,
        |  sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |    * (CAST(tf AS DOUBLE) * 2.2)
        |    / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
        | FROM tf JOIN qs ON tf.tok = qs.tok
        |  JOIN df ON tf.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN st
        | WHERE tf.doc_id >= 5
        | GROUP BY 1, 2),
        |lex AS (SELECT query_id, doc_id, rk AS lex_rank FROM (
        | SELECT query_id, doc_id, row_number() OVER (
        |   PARTITION BY query_id ORDER BY round(score, 4) DESC, doc_id)
        |  AS rk FROM sc) t WHERE rk <= 5),
        |vsc AS (SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
        |  $cosExpr AS cosine
        | FROM m a JOIN m b ON a.vec_id < 5 AND b.vec_id >= 5),
        |vec AS (SELECT query_id, doc_id, rk AS vec_rank FROM (
        | SELECT query_id, doc_id, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rk
        | FROM vsc) t WHERE rk <= 5),
        |fu AS (SELECT coalesce(lex.query_id, vec.query_id) AS query_id,
        |  coalesce(lex.doc_id, vec.doc_id) AS doc_id,
        |  coalesce(1000000 // (60 + lex_rank), 0)
        |    + coalesce(1000000 // (60 + vec_rank), 0) AS rrf,
        |  CASE WHEN lex_rank IS NULL THEN 0 ELSE 1 END AS in_lex,
        |  CASE WHEN vec_rank IS NULL THEN 0 ELSE 1 END AS in_vec
        | FROM lex FULL OUTER JOIN vec
        |  ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id,
        | CAST(rrf AS BIGINT) AS rrf_ppm,
        | CAST(in_lex AS BIGINT) AS in_lex, CAST(in_vec AS BIGINT) AS in_vec
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |  ORDER BY rrf DESC, doc_id) AS rk FROM fu) t
        |WHERE rk <= 5""".stripMargin,
    // q170: symmetrized q22 edge degrees -> degree histogram with a
    // subtraction-derived degree-0 row.
    "q170_degree_audit" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |p AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |dg AS (SELECT v, count(*) AS degree FROM (
        |  SELECT d1 AS v FROM p UNION ALL SELECT d2 FROM p) u GROUP BY 1),
        |h AS (SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
        | FROM dg GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |z AS (SELECT CAST(0 AS BIGINT) AS degree,
        |  tt.n_docs - (SELECT CAST(coalesce(sum(n_nodes), 0) AS BIGINT)
        |    FROM h) AS n_nodes FROM tt),
        |a AS (SELECT * FROM h UNION ALL SELECT * FROM z)
        |SELECT degree, n_nodes,
        | round(n_nodes / CAST(tt.n_docs AS DOUBLE), 4) AS frac
        |FROM a CROSS JOIN tt""".stripMargin,
    // q169: Okapi BM25 over the inline inverted index, top-10 per
    // query by (score desc, doc_id); constants as shared literals.
    "q169_bm25_search" ->
      """WITH qs AS (SELECT * FROM (VALUES ('qa', 'stream'),
        |  ('qa', 'window'), ('qa', 'merge'), ('qb', 'customer'),
        |  ('qb', 'key'), ('qc', 'fast'), ('qc', 'scan'), ('qc', 'sort'))
        |  AS qs(query_id, tok)),
        |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        | FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |sc AS (SELECT qs.query_id, tf.doc_id,
        |  sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |    * (CAST(tf AS DOUBLE) * 2.2)
        |    / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
        | FROM tf JOIN qs ON tf.tok = qs.tok
        |  JOIN df ON tf.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN st
        | GROUP BY 1, 2)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
        | round(score, 4) AS score FROM (
        | SELECT query_id, doc_id, score, row_number() OVER (
        |   PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        | FROM sc) t WHERE rank <= 10""".stripMargin,
    // q168: transition matrix from seeded-hash train users, row
    // argmax (n desc, to_type asc), accuracy on held-out users.
    "q168_markov_holdout" ->
      s"""WITH sq AS (SELECT user_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS next_type,
        |  ${hex8Sql("concat('mk|', user_id)")} % 2 AS arm
        | FROM events),
        |s2 AS (SELECT * FROM sq WHERE next_type IS NOT NULL),
        |tc AS (SELECT event_type AS from_type, next_type AS to_type,
        |  count(*) AS n FROM s2 WHERE arm = 0 GROUP BY 1, 2),
        |pr AS (SELECT from_type, to_type AS predicted_to,
        |  CAST(n AS BIGINT) AS n_train FROM (
        |  SELECT from_type, to_type, n, row_number() OVER (
        |    PARTITION BY from_type ORDER BY n DESC, to_type) AS rk
        |  FROM tc) t WHERE rk = 1)
        |SELECT pr.from_type, pr.predicted_to, pr.n_train,
        | CAST(count(*) AS BIGINT) AS n_eval,
        | CAST(sum(CASE WHEN s2.next_type = pr.predicted_to
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        | (CAST(sum(CASE WHEN s2.next_type = pr.predicted_to
        |   THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*) AS acc_ppm
        |FROM s2 JOIN pr ON s2.event_type = pr.from_type
        |WHERE s2.arm = 1
        |GROUP BY 1, 2, 3""".stripMargin,
    // q167: canonical a<b<c triples per order, support prune, triple
    // lift vs the singleton independence baseline.
    "q167_basket_triples" ->
      """WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |fr AS (SELECT l_partkey, count(*) AS f FROM it GROUP BY 1),
        |t AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
        |  AS n_orders FROM it),
        |tp AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  c.l_partkey AS part_c, count(*) AS n_triples
        | FROM it a JOIN it b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        | JOIN it c ON a.l_orderkey = c.l_orderkey
        |  AND b.l_partkey < c.l_partkey
        | GROUP BY 1, 2, 3 HAVING count(*) >= 2)
        |SELECT part_a, part_b, part_c,
        | CAST(n_triples AS BIGINT) AS n_triples,
        | round(CAST(n_triples AS DOUBLE) * n_orders * n_orders
        |  / CAST(fa.f * fb.f * fc.f AS DOUBLE), 4) AS lift
        |FROM tp
        | JOIN fr fa ON tp.part_a = fa.l_partkey
        | JOIN fr fb ON tp.part_b = fb.l_partkey
        | JOIN fr fc ON tp.part_c = fc.l_partkey
        | CROSS JOIN t""".stripMargin,
    // q166: per-doc distinct 8-grams, train digest set, digest-keyed
    // left join -> per-split contamination rates.
    "q166_split_contamination" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk,
        |  CASE WHEN ${hex8Sql("concat('sp|', CAST(doc_id AS VARCHAR))")} % 100 < 98
        |    THEN 'train'
        |   WHEN ${hex8Sql("concat('sp|', CAST(doc_id AS VARCHAR))")} % 100 = 98
        |    THEN 'val'
        |   ELSE 'test' END AS split
        | FROM documents),
        |g AS (SELECT doc_id, split, md5(gg) AS h FROM (
        |  SELECT doc_id, split, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(tk) - 6, 1)),
        |    i -> array_to_string(tk[i:i+7], ' ')))) AS gg FROM d) t),
        |tr AS (SELECT DISTINCT h FROM g WHERE split = 'train'),
        |ev AS (SELECT g.doc_id, g.split,
        |  CASE WHEN tr.h IS NULL THEN 0 ELSE 1 END AS hit
        | FROM g LEFT JOIN tr ON g.h = tr.h WHERE g.split <> 'train')
        |SELECT split, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | CAST(count(*) AS BIGINT) AS n_grams,
        | CAST(sum(hit) AS BIGINT) AS n_hit_grams,
        | (CAST(sum(hit) AS BIGINT) * 1000000) // count(*) AS hit_ppm,
        | CAST(count(DISTINCT CASE WHEN hit = 1 THEN doc_id END) AS BIGINT)
        |   AS n_docs_hit
        |FROM ev GROUP BY 1""".stripMargin,
    // q165: per-language token rollup + min-ratio budget, per-lang
    // downsampling rates (binding language at rate 1e6).
    "q165_mixture_plan" ->
      """WITH tg AS (SELECT * FROM (VALUES ('en', 300000), ('de', 175000),
        |  ('es', 175000), ('fr', 175000), ('zh', 175000))
        |  AS tg(lang, target_ppm)),
        |tk AS (SELECT lang,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        | FROM documents GROUP BY 1),
        |j AS (SELECT tk.lang, tk.tokens,
        |  CAST(tg.target_ppm AS BIGINT) AS target_ppm
        | FROM tk JOIN tg ON tk.lang = tg.lang),
        |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS all_tokens,
        |  CAST(min((tokens * 1000000) // target_ppm) AS BIGINT)
        |    AS budget_tokens FROM j)
        |SELECT lang, tokens,
        | (tokens * 1000000) // all_tokens AS current_ppm,
        | target_ppm, budget_tokens,
        | (budget_tokens * target_ppm) // 1000000 AS need_tokens,
        | ((budget_tokens * target_ppm) // 1000000 * 1000000) // tokens
        |   AS rate_ppm
        |FROM j CROSS JOIN t""".stripMargin,
    // q164: forward-asof view->purchase delays, minute-bin histogram
    // quantiles with integer rank crossing.
    "q164_conversion_latency" ->
      """WITH v AS (SELECT user_id, event_id, epoch_us(ts) AS ts
        | FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, epoch_us(ts) AS ts FROM events
        | WHERE event_type = 'purchase'),
        |d AS (SELECT min(p.ts) - v.ts AS dl
        | FROM v JOIN p ON v.user_id = p.user_id AND p.ts >= v.ts
        | GROUP BY v.user_id, v.event_id, v.ts),
        |h AS (SELECT dl // 60000000 AS bin, count(*) AS cnt FROM d
        | GROUP BY 1),
        |c AS (SELECT bin, cnt,
        |  CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum FROM h),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
        |q AS (SELECT * FROM (VALUES ('p50', 50), ('p90', 90),
        |  ('p99', 99)) AS qq(q_label, q)),
        |r AS (SELECT q_label, t.n, (q.q * t.n + 99) // 100 AS rnk
        | FROM q CROSS JOIN t)
        |SELECT q_label, n, CAST(rnk AS BIGINT) AS rnk,
        | CAST(bin AS BIGINT) AS delay_min_lower,
        | CAST(bin * 60000000 + 59999999 AS BIGINT) AS est_upper_us
        |FROM r JOIN c ON c.cum >= r.rnk AND (c.cum - c.cnt) < r.rnk""".stripMargin,
    // q163: hourly counts vs trailing-24h sum (integer cross-multiply
    // spike test), per-day rollup; first-day hours excluded.
    "q163_rate_spikes" ->
      """WITH hh AS (SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS n
        | FROM events GROUP BY 1),
        |w AS (SELECT h, n,
        |  CAST(sum(n) OVER (ORDER BY h
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s24,
        |  count(n) OVER (ORDER BY h
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS c24
        | FROM hh),
        |e AS (SELECT h, n, s24, (n * 24000000) // s24 AS ratio_ppm
        | FROM w WHERE c24 = 24)
        |SELECT h // 24 AS day, CAST(count(*) AS BIGINT) AS n_hours,
        | CAST(sum(CASE WHEN ratio_ppm > 2000000 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_spikes,
        | CAST(max(ratio_ppm) AS BIGINT) AS max_ratio_ppm,
        | CAST(min(ratio_ppm) AS BIGINT) AS min_ratio_ppm
        |FROM e GROUP BY 1""".stripMargin,
    // q162: lang x length-band contingency incl. zero cells from the
    // marginal cross, chi-square with pinned double order.
    "q162_lang_length_chi2" ->
      """WITH d AS (SELECT lang, CASE WHEN n_chars < 200 THEN 'short'
        |   WHEN n_chars < 350 THEN 'medium' ELSE 'long' END AS band
        | FROM documents),
        |cells AS (SELECT lang, band, count(*) AS n FROM d GROUP BY 1, 2),
        |r AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nr FROM cells
        | GROUP BY 1),
        |c AS (SELECT band, CAST(sum(n) AS BIGINT) AS nc FROM cells
        | GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells),
        |g AS (SELECT r.lang, c.band, r.nr, c.nc, t.nt,
        |  coalesce(cells.n, 0) AS n0
        | FROM r CROSS JOIN c CROSS JOIN t
        | LEFT JOIN cells ON cells.lang = r.lang AND cells.band = c.band),
        |x AS (SELECT nt, lang, band,
        |  (n0 - CAST(nr * nc AS DOUBLE) / nt)
        |   * (n0 - CAST(nr * nc AS DOUBLE) / nt)
        |   / (CAST(nr * nc AS DOUBLE) / nt) AS contrib FROM g)
        |SELECT CAST(max(nt) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        | CAST(count(DISTINCT band) AS BIGINT) AS n_bands,
        | CAST((count(DISTINCT lang) - 1) * (count(DISTINCT band) - 1)
        |   AS BIGINT) AS dof,
        | round(sum(contrib), 4) AS chi2
        |FROM x""".stripMargin,
    // q161: per-label centroids of the two vec_id-parity batches,
    // injected +0.5 dim-0 drift on label 0, cosine per label.
    "q161_centroid_drift" ->
      s"""WITH q AS (SELECT vec_id, label, list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        | FROM embeddings),
        |uo AS (SELECT label, unnest(v) AS x,
        |  generate_subscripts(v, 1) - 1 AS pos FROM q WHERE vec_id % 2 = 0),
        |so AS (SELECT label, pos, sum(x) AS sx, count(*) AS nv
        | FROM uo GROUP BY 1, 2),
        |co AS (SELECT label,
        |  list(CAST(trunc(CAST(sx AS DOUBLE) / nv) AS BIGINT) ORDER BY pos)
        |    AS v, max(nv) AS n FROM so GROUP BY 1),
        |un AS (SELECT label, unnest(v) AS x,
        |  generate_subscripts(v, 1) - 1 AS pos FROM q WHERE vec_id % 2 = 1),
        |sn AS (SELECT label, pos, sum(x) AS sx, count(*) AS nv
        | FROM un GROUP BY 1, 2),
        |cn0 AS (SELECT label,
        |  list(CAST(trunc(CAST(sx AS DOUBLE) / nv) AS BIGINT) ORDER BY pos)
        |    AS v, max(nv) AS n FROM sn GROUP BY 1),
        |cn AS (SELECT label, CASE WHEN label = 0
        |   THEN list_concat([v[1] + 500000], v[2:]) ELSE v END AS v, n
        | FROM cn0),
        |a AS (SELECT label, v,
        |  CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2, n
        | FROM co),
        |b AS (SELECT label, v,
        |  CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2, n
        | FROM cn)
        |SELECT a.label, CAST(a.n AS BIGINT) AS n_old,
        | CAST(b.n AS BIGINT) AS n_new,
        | CAST(round(sqrt(CAST(list_sum(list_transform(range(64),
        |   i -> (a.v[i+1] - b.v[i+1]) * (a.v[i+1] - b.v[i+1])))
        |   AS DOUBLE))) AS BIGINT) AS shift_micro,
        | round($cosExpr, 4) AS drift_cosine,
        | a.label = 0 AS drift_injected
        |FROM a JOIN b ON a.label = b.label""".stripMargin,
    // q160: per-key counts -> top-k heavy hitters with corpus share
    // and per-key salt factor (q81's synthetic hot key as input).
    "q160_skew_report" ->
      """WITH c AS (SELECT CASE WHEN event_id % 2 = 0 THEN -1
        |   ELSE user_id END AS skew_key, count(*) AS cnt
        | FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_keys FROM c),
        |r AS (SELECT skew_key, cnt,
        |  row_number() OVER (ORDER BY cnt DESC, skew_key) AS rank
        | FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, skew_key,
        | CAST(cnt AS BIGINT) AS cnt, n_rows, n_keys,
        | (cnt * 1000000) // n_rows AS share_ppm,
        | CAST(ceil(cnt * CAST(32 AS DOUBLE) / n_rows) AS BIGINT)
        |   AS salt_shards
        |FROM r, t WHERE rank <= 5""".stripMargin,
    // q159: hash-selected forget set, FK-cascade deletion counts per
    // table (customer -> orders -> lineitem; events by principal).
    "q159_forget_cascade" ->
      s"""WITH dc AS (SELECT c_custkey FROM customer
        |  WHERE ${hex8Sql("concat('forget|', c_custkey)")} % 50 = 0),
        |dord AS (SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM dc))
        |SELECT 'customer' AS table_name,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_total,
        |  (SELECT CAST(count(*) AS BIGINT) FROM dc) AS n_deleted,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer)
        |    - (SELECT CAST(count(*) AS BIGINT) FROM dc) AS n_remaining
        |UNION ALL
        |SELECT 'orders',
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(count(*) AS BIGINT) FROM dord),
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders)
        |    - (SELECT CAST(count(*) AS BIGINT) FROM dord)
        |UNION ALL
        |SELECT 'lineitem',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |    WHERE l_orderkey IN (SELECT o_orderkey FROM dord)),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem)
        |    - (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |       WHERE l_orderkey IN (SELECT o_orderkey FROM dord))
        |UNION ALL
        |SELECT 'events',
        |  (SELECT CAST(count(*) AS BIGINT) FROM events),
        |  (SELECT CAST(count(*) AS BIGINT) FROM events
        |    WHERE ${hex8Sql("concat('forget|', user_id)")} % 50 = 0),
        |  (SELECT CAST(count(*) AS BIGINT) FROM events)
        |    - (SELECT CAST(count(*) AS BIGINT) FROM events
        |       WHERE ${hex8Sql("concat('forget|', user_id)")} % 50 = 0)""".stripMargin,
    // q158: seeded-jitter arrival, processing-time chunk watermark,
    // per-event lateness vs the watermark at arrival, 5-band report.
    "q158_watermark_lag" ->
      s"""WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us,
        |  (epoch_us(ts) + ${hex8Sql("concat('lag|', event_id)")}
        |    % 1800000000) // 600000000 AS chunkid FROM events),
        |c AS (SELECT chunkid, max(ts_us) AS cmax FROM e GROUP BY 1),
        |w AS (SELECT chunkid, max(cmax) OVER (ORDER BY chunkid
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_prev
        | FROM c),
        |l AS (SELECT CASE WHEN wm_prev IS NULL THEN 0
        |    ELSE greatest(wm_prev - ts_us, 0) END AS late_us
        | FROM e JOIN w USING (chunkid)),
        |b AS (SELECT CASE WHEN late_us = 0 THEN '0_on_time'
        |   WHEN late_us <= 60000000 THEN '1_within_1m'
        |   WHEN late_us <= 600000000 THEN '2_within_10m'
        |   WHEN late_us <= 3600000000 THEN '3_within_1h'
        |   ELSE '4_over_1h' END AS band, late_us FROM l),
        |t AS (SELECT count(*) AS n FROM e)
        |SELECT band, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(max(late_us) AS BIGINT) AS max_late_us,
        | round(count(*) / CAST(t.n AS DOUBLE), 4) AS frac
        |FROM b, t GROUP BY band, t.n""".stripMargin,
    // q157: seeded-hash A/B arms, per-user conversion/revenue, one
    // report row with ppm rates, lift, and the two-proportion z.
    "q157_ab_lift" ->
      s"""WITH u AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' AND value >= 100
        |    THEN 1 ELSE 0 END) AS converted,
        |  sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |    AS rev_cents
        | FROM events GROUP BY 1),
        |a AS (SELECT CASE WHEN ${hex8Sql("concat('ab|', user_id)")} % 2 = 0
        |    THEN 'A' ELSE 'B' END AS arm, converted, rev_cents FROM u),
        |g AS (SELECT arm, count(*) AS n, sum(converted) AS conv,
        |  sum(rev_cents) AS rev FROM a GROUP BY 1),
        |o AS (SELECT
        |  CAST(sum(CASE WHEN arm = 'A' THEN n END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN arm = 'A' THEN conv END) AS BIGINT) AS conv_a,
        |  CAST(sum(CASE WHEN arm = 'A' THEN rev END) AS BIGINT)
        |    AS rev_a_cents,
        |  CAST(sum(CASE WHEN arm = 'B' THEN n END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN arm = 'B' THEN conv END) AS BIGINT) AS conv_b,
        |  CAST(sum(CASE WHEN arm = 'B' THEN rev END) AS BIGINT)
        |    AS rev_b_cents
        | FROM g)
        |SELECT n_a, conv_a, rev_a_cents, n_b, conv_b, rev_b_cents,
        | (conv_a * 1000000) // n_a AS conv_a_ppm,
        | (conv_b * 1000000) // n_b AS conv_b_ppm,
        | (conv_b * n_a * 1000000) // (conv_a * n_b) - 1000000 AS lift_ppm,
        | round((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
        |  / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |    * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |    * (1.0 / n_a + 1.0 / n_b)), 4) AS z_stat
        |FROM o""".stripMargin,
    // q156: U-shaped multi-touch attribution — integer-ppm credits,
    // cent-truncated payouts, unattributed purchases conserved.
    "q156_position_attribution" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents, ts AS pts
        | FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id, ts, event_type AS touch_type
        | FROM events WHERE event_type <> 'purchase'),
        |j AS (SELECT p.purchase_id, p.cents, t.event_id, t.ts, t.touch_type
        | FROM p LEFT JOIN t ON p.user_id = t.user_id AND t.ts < p.pts),
        |w AS (SELECT purchase_id, cents, touch_type, event_id,
        |  count(event_id) OVER (PARTITION BY purchase_id) AS n,
        |  row_number() OVER (PARTITION BY purchase_id
        |    ORDER BY ts, event_id) AS r
        | FROM j),
        |c AS (SELECT coalesce(touch_type, '(unattributed)') AS touch_type,
        |  CASE WHEN event_id IS NULL THEN 1000000
        |       WHEN n = 1 THEN 1000000
        |       WHEN n = 2 THEN 500000
        |       WHEN r = 1 OR r = n THEN 400000
        |       ELSE 200000 // (n - 2) END AS credit_ppm,
        |  cents FROM w)
        |SELECT touch_type, CAST(count(*) AS BIGINT) AS n_credited,
        | CAST(sum(credit_ppm) AS BIGINT) AS credit_ppm_sum,
        | CAST(sum((cents * credit_ppm) // 1000000) AS BIGINT)
        |   AS attributed_cents
        |FROM c GROUP BY 1""".stripMargin,
    // q155: IVF top-3 (q38's CTE chain) vs brute-force top-3 ground
    // truth — per-query recall@k.
    "q155_ann_recall" ->
      s"""WITH $ivfScoreCtes,
        |ivf AS (SELECT query_id, neighbor_id FROM (
        | SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS rank
        | FROM sc) t WHERE rank <= 3),
        |scx AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  $cosExpr AS cosine
        | FROM m a JOIN m b ON a.vec_id < 5 AND b.vec_id >= 5),
        |ex AS (SELECT query_id, neighbor_id FROM (
        | SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS rank
        | FROM scx) t WHERE rank <= 3),
        |j AS (SELECT ex.query_id,
        |  CASE WHEN ivf.neighbor_id IS NULL THEN 0 ELSE 1 END AS found
        | FROM ex LEFT JOIN ivf ON ex.query_id = ivf.query_id
        |  AND ex.neighbor_id = ivf.neighbor_id)
        |SELECT query_id, CAST(count(*) AS BIGINT) AS k,
        | CAST(sum(found) AS BIGINT) AS n_hit,
        | round(sum(found) / CAST(count(*) AS DOUBLE), 4) AS recall_at_k
        |FROM j GROUP BY 1""".stripMargin,
    // q154: histogram-grain median/MAD per source + exact outlier
    // count (|x - med| > 3*MAD); crossing test all-integer.
    "q154_robust_outliers" ->
      """WITH d AS (SELECT source AS g, n_chars AS v FROM documents),
        |h1 AS (SELECT g, v // 16 AS bin, count(*) AS cnt FROM d
        | GROUP BY 1, 2),
        |c1 AS (SELECT g, bin, cnt,
        |  CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS BIGINT)
        |    AS cum,
        |  CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n FROM h1),
        |m1 AS (SELECT g, bin * 16 + 15 AS med FROM c1
        | WHERE cum * 2 >= n AND (cum - cnt) * 2 < n),
        |dv AS (SELECT d.g, abs(d.v - m1.med) AS v
        | FROM d JOIN m1 ON d.g = m1.g),
        |h2 AS (SELECT g, v // 16 AS bin, count(*) AS cnt FROM dv
        | GROUP BY 1, 2),
        |c2 AS (SELECT g, bin, cnt,
        |  CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS BIGINT)
        |    AS cum,
        |  CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n FROM h2),
        |m2 AS (SELECT g, bin * 16 + 15 AS mad FROM c2
        | WHERE cum * 2 >= n AND (cum - cnt) * 2 < n)
        |SELECT d.g AS source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(min(m1.med) AS BIGINT) AS med_chars,
        | CAST(min(m2.mad) AS BIGINT) AS mad_chars,
        | CAST(sum(CASE WHEN abs(d.v - m1.med) > m2.mad * 3
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        | round(sum(CASE WHEN abs(d.v - m1.med) > m2.mad * 3
        |   THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4)
        |   AS outlier_frac
        |FROM d JOIN m1 ON d.g = m1.g JOIN m2 ON d.g = m2.g
        |GROUP BY 1""".stripMargin,
    // q153: exact q21 pairs left-joined to q22 band candidates,
    // rolled up per Jaccard decile — the empirical LSH s-curve.
    "q153_lsh_recall" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |e AS (SELECT doc_id, unnest(sh) AS s FROM t),
        |c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |z AS (SELECT doc_id, len(sh) AS n FROM t),
        |ex AS (SELECT d1, d2,
        |  CAST(common AS DOUBLE)/(za.n + zb.n - common) AS jaccard
        | FROM c JOIN z za ON d1 = za.doc_id JOIN z zb ON d2 = zb.doc_id
        | WHERE CAST(common AS DOUBLE)/(za.n + zb.n - common) >= 0.5),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |j AS (SELECT CAST(floor(ex.jaccard * 10) AS BIGINT) AS sim_band,
        |  CASE WHEN cand.d1 IS NULL THEN 0 ELSE 1 END AS found
        | FROM ex LEFT JOIN cand ON ex.d1 = cand.d1 AND ex.d2 = cand.d2)
        |SELECT sim_band, CAST(count(*) AS BIGINT) AS n_exact,
        | CAST(sum(found) AS BIGINT) AS n_found,
        | round(sum(found) / CAST(count(*) AS DOUBLE), 4) AS recall
        |FROM j GROUP BY 1""".stripMargin,
    // q152: one audit row per FK edge of the star schema.
    "q152_fk_integrity" -> Seq(
      ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      ("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      ("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      ("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
        "nation", "n_nationkey"),
      ("nation.n_regionkey->region", "nation", "n_regionkey",
        "region", "r_regionkey"))
      .map { case (n, ct, ck, pt, pk) => fkEdgeSql(n, ct, ck, pt, pk) }
      .mkString("\nUNION ALL\n"),
    // q146: q22's band pairs joined to deterministic 98/1/1 split
    // assignment; off-diagonal (cross-split) rows are the leaks.
    "q146_split_leakage" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |p AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |sp AS (SELECT doc_id,
        |  CASE WHEN ${hex8Sql("concat('sp|', CAST(doc_id AS VARCHAR))")} % 100 < 98
        |    THEN 'train'
        |   WHEN ${hex8Sql("concat('sp|', CAST(doc_id AS VARCHAR))")} % 100 = 98
        |    THEN 'val'
        |   ELSE 'test' END AS split
        | FROM documents)
        |SELECT least(sa.split, sb.split) AS s1,
        | greatest(sa.split, sb.split) AS s2,
        | count(*) AS n_pairs,
        | least(sa.split, sb.split) <> greatest(sa.split, sb.split)
        |   AS cross_split
        |FROM p JOIN sp sa ON p.d1 = sa.doc_id
        | JOIN sp sb ON p.d2 = sb.doc_id
        |GROUP BY 1, 2, 4""".stripMargin,
    // q145: q130's QI classes, sensitive attribute = balance band;
    // roll-up of classes below the l=3 distinct-value floor.
    "q145_l_diversity" ->
      """WITH cls AS (SELECT c_mktsegment, c_nationkey,
        |  count(DISTINCT CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0)
        |    AS BIGINT)) AS div,
        |  count(*) AS n
        | FROM customer GROUP BY 1, 2)
        |SELECT c_mktsegment, count(*) AS n_classes,
        | CAST(sum(n) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN div < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_low_div_classes,
        | CAST(sum(CASE WHEN div < 3 THEN n ELSE 0 END) AS BIGINT)
        |   AS n_low_div_rows,
        | min(div) AS min_diversity,
        | round(CAST(sum(CASE WHEN div < 3 THEN n ELSE 0 END) AS BIGINT)
        |   / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE), 4) AS low_div_row_frac
        |FROM cls GROUP BY c_mktsegment""".stripMargin,
    // q143: occurrence-weighted adjacent char pairs inside words —
    // BPE's merge-candidate table; (n desc, pair) total order.
    "q143_bpe_merge_freq" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |p AS (SELECT unnest(list_transform(range(1, length(w)),
        |   i -> substr(w, CAST(i AS INTEGER), 2))) AS pair
        | FROM w WHERE length(w) >= 2)
        |SELECT pair, count(*) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    // q141: bounded-basket pair counts + lift from exact integer
    // frequencies; one IEEE lift expression on both engines.
    "q141_basket_pairs" ->
      """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |f AS (SELECT l_partkey, count(*) AS f FROM i GROUP BY 1),
        |t AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM i),
        |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  count(*) AS n_pairs
        | FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT part_a, part_b, n_pairs,
        | round(CAST(n_pairs AS DOUBLE) * n_orders
        |   / CAST(fa.f * fb.f AS DOUBLE), 4) AS lift
        |FROM p JOIN f fa ON part_a = fa.l_partkey
        | JOIN f fb ON part_b = fb.l_partkey, t""".stripMargin,
    // q142: q63's session labels + two leads on the session window;
    // |types|³-bounded output.
    "q142_session_paths" ->
      """WITH s1 AS (SELECT user_id, event_id, ts, event_type,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (SELECT user_id, event_id, ts, event_type,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM s1),
        |p AS (SELECT event_type AS step1,
        |  lead(event_type, 1) OVER ws AS step2,
        |  lead(event_type, 2) OVER ws AS step3
        | FROM s2 WINDOW ws AS (PARTITION BY user_id, session_id
        |   ORDER BY ts, event_id))
        |SELECT step1, step2, step3, count(*) AS n FROM p
        |WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        |GROUP BY 1, 2, 3""".stripMargin,
    // q140: the upserted view's final state must equal the batch
    // aggregate — q126's oracle (same grain, same integer cents).
    "q140_stream_upsert_view" ->
      """SELECT user_id, event_type, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    // q138: layout must never change results — the oracle filters
    // the raw table for the same day the partitioned read prunes to.
    "q138_partition_pruning" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE epoch_us(ts) // 86400000000 = 19739
        |GROUP BY event_type""".stripMargin,
    // q139: the same bit interleave as integer arithmetic; zone-map
    // rows per 1024-cell z-file.
    "q139_zorder_audit" -> {
      val zSql = (0 until 8).map(i =>
        s"(((xb >> $i) & 1) << ${2 * i}) + (((yb >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH b AS (SELECT o_custkey % 256 AS xb,
        |  (epoch_us(o_orderdate) // 86400000000) % 256 AS yb FROM orders),
        |z AS (SELECT xb, yb, $zSql AS zv FROM b)
        |SELECT zv >> 10 AS z_file, count(*) AS n_rows,
        | min(xb) AS cust_min, max(xb) AS cust_max,
        | min(yb) AS day_min, max(yb) AS day_max,
        | (max(xb) - min(xb) + 1) * (max(yb) - min(yb) + 1) AS span_area
        |FROM z GROUP BY 1""".stripMargin
    },
    // q134: grid rows (side 1) unioned with events (side 0), one
    // last_value IGNORE NULLS pass per user — the q17/q62 as-of
    // mirror; events at the exact grid instant are visible (side
    // orders them first), max event_id wins time ties. The grid is
    // clamped to the most recent 100000 points per user with a
    // truncated flag (mirrors the Spark maxGridRows knob).
    "q134_resample_ffill" ->
      """WITH b AS (SELECT user_id,
        |  greatest(epoch_us(min(ts)) // 3600000000,
        |    epoch_us(max(ts)) // 3600000000 - 99999) AS lo,
        |  epoch_us(max(ts)) // 3600000000 AS hi,
        |  epoch_us(min(ts)) // 3600000000
        |    < epoch_us(max(ts)) // 3600000000 - 99999 AS trunc
        | FROM events GROUP BY user_id),
        |g AS (SELECT user_id, unnest(range(lo, hi + 1)) AS hb, trunc FROM b),
        |gg AS (SELECT user_id, hb * 3600000000 AS t, 1 AS side,
        |  NULL::BIGINT AS eid, NULL::DOUBLE AS val, trunc FROM g),
        |ev AS (SELECT user_id, epoch_us(ts) AS t, 0 AS side,
        |  event_id AS eid, value AS val, NULL::BOOLEAN AS trunc FROM events),
        |u AS (SELECT * FROM gg UNION ALL SELECT * FROM ev),
        |f AS (SELECT user_id, t, side, trunc,
        |  last_value(val IGNORE NULLS) OVER w AS asof_value,
        |  last_value(eid IGNORE NULLS) OVER w AS asof_event_id
        | FROM u WINDOW w AS (PARTITION BY user_id
        |   ORDER BY t, side, eid
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, t AS grid_ts, trunc AS truncated,
        | asof_value, asof_event_id
        |FROM f WHERE side = 1""".stripMargin,
    // q135: per-(user, day) partials, then a RANGE-framed trailing
    // 7-day window over the daily rows — integer sums throughout.
    "q135_rolling_features" ->
      """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        | FROM events GROUP BY 1, 2)
        |SELECT user_id, day, n_events, cents,
        | CAST(sum(n_events) OVER w AS BIGINT) AS n_events_7d,
        | CAST(sum(cents) OVER w AS BIGINT) AS cents_7d
        |FROM d WINDOW w AS (PARTITION BY user_id ORDER BY day
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    // q132: both sides filtered by the SAME md5 bucket of the join
    // key — join of samples == sample of the join; integer-cent
    // revenue so estimate AND sampling error replay exactly.
    "q132_coherent_sample" ->
      s"""WITH ko AS (SELECT o_orderkey FROM orders
        | WHERE ${hex8Sql("concat('cs|', CAST(o_orderkey AS VARCHAR))")} % 16 = 0),
        |kl AS (SELECT l_orderkey,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        | FROM lineitem
        | WHERE ${hex8Sql("concat('cs|', CAST(l_orderkey AS VARCHAR))")} % 16 = 0),
        |smp AS (SELECT count(DISTINCT o_orderkey) AS n_orders_sample,
        |  count(*) AS n_items_sample,
        |  CAST(sum(cents) AS BIGINT) AS revenue_sample_cents
        | FROM ko JOIN kl ON o_orderkey = l_orderkey),
        |ex AS (SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |   AS BIGINT) AS revenue_exact_cents
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT n_orders_sample, n_items_sample, revenue_sample_cents,
        | revenue_sample_cents * 16 AS revenue_est_cents,
        | revenue_exact_cents,
        | round(abs(revenue_sample_cents * 16 - revenue_exact_cents)
        |   / CAST(revenue_exact_cents AS DOUBLE), 4) AS rel_err
        |FROM smp, ex""".stripMargin,
    // q133: q21 ∪ q22 ∪ q101 edges with provenance flags → recursive
    // closure → per-cluster signal audit (each blocker's oracle CTEs
    // reused verbatim; winnow's d/t renamed wd/t2 to avoid clashes).
    "q133_multi_signal_dedup" ->
      s"""WITH RECURSIVE $shinglesCte,
        |$minhashSigCte,
        |e AS (SELECT doc_id, unnest(sh) AS s FROM t),
        |jc AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |z AS (SELECT doc_id, len(sh) AS n FROM t),
        |jac AS (SELECT d1, d2 FROM jc
        |  JOIN z za ON d1 = za.doc_id JOIN z zb ON d2 = zb.doc_id
        | WHERE CAST(common AS DOUBLE)/(za.n + zb.n - common) >= 0.5),
        |mh AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |wd AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents WHERE len(string_split(text, ' ')) >= 6),
        |tr AS (SELECT doc_id, list_transform(range(1, len(ts) - 1),
        |   i -> array_to_string(ts[i:i+2], ' ')) AS tri FROM wd),
        |tr2 AS (SELECT doc_id, unnest(tri) AS t2,
        |  generate_subscripts(tri, 1) AS pos FROM tr),
        |th AS (SELECT doc_id, pos,
        |  ${hex8Sql("concat('wn|', t2)")} AS h FROM tr2),
        |hl AS (SELECT doc_id, list(h ORDER BY pos) AS hs FROM th
        | GROUP BY doc_id),
        |fp0 AS (SELECT doc_id, list_distinct(list_transform(
        |   range(1, len(hs) - 2), j -> list_min(hs[j:j+3]))) AS fps
        | FROM hl WHERE len(hs) >= 4),
        |fpe AS (SELECT doc_id, unnest(fps) AS fp FROM fp0),
        |po AS (SELECT fp, count(*) AS df FROM fpe GROUP BY fp),
        |wcand AS (SELECT a.doc_id AS d1, b.doc_id AS d2
        | FROM fpe a JOIN fpe b ON a.fp = b.fp AND a.doc_id < b.doc_id
        | JOIN po ON a.fp = po.fp WHERE po.df BETWEEN 2 AND 50),
        |wn AS (SELECT d1, d2 FROM wcand GROUP BY d1, d2
        | HAVING count(*) >= 2),
        |edges AS (SELECT d1, d2, max(sj) AS sj, max(sm) AS sm,
        |  max(sw) AS sw FROM (
        |  SELECT d1, d2, 1 AS sj, 0 AS sm, 0 AS sw FROM jac
        |  UNION ALL SELECT d1, d2, 0, 1, 0 FROM mh
        |  UNION ALL SELECT d1, d2, 0, 0, 1 FROM wn) u GROUP BY 1, 2),
        |adj AS (SELECT d1 AS v, d2 AS u FROM edges
        | UNION SELECT d2, d1 FROM edges),
        |r AS (SELECT v, u FROM adj
        | UNION SELECT r.v, adj.u FROM r, adj WHERE r.u = adj.v),
        |comp AS (SELECT v AS doc_id, least(v, min(u)) AS component
        | FROM r GROUP BY v),
        |pe AS (SELECT comp.component, count(*) AS n_pairs,
        |  CAST(sum(sj) AS BIGINT) AS n_jaccard,
        |  CAST(sum(sm) AS BIGINT) AS n_minhash,
        |  CAST(sum(sw) AS BIGINT) AS n_winnow,
        |  CAST(sum(CASE WHEN sj + sm + sw >= 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_multi_signal
        | FROM edges JOIN comp ON edges.d1 = comp.doc_id GROUP BY 1),
        |nd AS (SELECT component, count(*) AS n_docs FROM comp
        | GROUP BY component)
        |SELECT nd.component, nd.n_docs, pe.n_pairs, pe.n_jaccard,
        | pe.n_minhash, pe.n_winnow, pe.n_multi_signal
        |FROM nd JOIN pe ON nd.component = pe.component""".stripMargin,
    // q129: degree-ordered triangle enumeration over q22's edges —
    // each triangle counted once at its lowest-(deg,id) corner;
    // wedge total from the degree frame alone.
    "q129_triangle_count" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |e0 AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT d1 AS node FROM e0 UNION ALL SELECT d2 AS node FROM e0) u
        | GROUP BY node),
        |ow AS (SELECT
        |  CASE WHEN (g1.deg, e0.d1) < (g2.deg, e0.d2)
        |   THEN e0.d1 ELSE e0.d2 END AS s,
        |  CASE WHEN (g1.deg, e0.d1) < (g2.deg, e0.d2)
        |   THEN e0.d2 ELSE e0.d1 END AS t,
        |  CASE WHEN (g1.deg, e0.d1) < (g2.deg, e0.d2)
        |   THEN g2.deg ELSE g1.deg END AS td
        | FROM e0 JOIN deg g1 ON e0.d1 = g1.node
        |  JOIN deg g2 ON e0.d2 = g2.node),
        |wg AS (SELECT e1.t AS v, e2.t AS w2 FROM ow e1 JOIN ow e2
        | ON e1.s = e2.s AND (e1.td, e1.t) < (e2.td, e2.t)),
        |tri AS (SELECT count(*) AS n_triangles FROM wg
        | WHERE EXISTS (SELECT 1 FROM ow o WHERE o.s = wg.v AND o.t = wg.w2)),
        |sz AS (SELECT count(*) AS n_nodes,
        |  CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
        |ec AS (SELECT count(*) AS n_edges FROM e0)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        | CASE WHEN n_wedges > 0
        |  THEN round(3.0 * n_triangles / CAST(n_wedges AS DOUBLE), 4)
        |  END AS clustering
        |FROM sz, ec, tri""".stripMargin,
    // q130: equivalence classes on the (segment, nation) QIs, then a
    // per-segment roll-up of classes/rows below the k=5 floor.
    "q130_k_anonymity" ->
      """WITH cls AS (SELECT c_mktsegment, c_nationkey, count(*) AS n
        | FROM customer GROUP BY 1, 2)
        |SELECT c_mktsegment, count(*) AS n_classes,
        | CAST(sum(n) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risk_classes,
        | CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_risk_rows,
        | min(n) AS min_class_size,
        | round(CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |   / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE), 4) AS risk_row_frac
        |FROM cls GROUP BY c_mktsegment""".stripMargin,
    // q131: q92's register pipeline keyed on the per-type distinct
    // USER stream (k = user_id) — the streaming state is the
    // registers; estimator + exact audit replayed batch-side.
    "q131_stream_hll" ->
      s"""WITH k AS (SELECT event_type, CAST(user_id AS VARCHAR) AS k
        | FROM events),
        |h AS (SELECT event_type, md5(k) AS h FROM k),
        |rv AS (SELECT event_type,
        |  CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS BIGINT) AS reg,
        |  ${hexNibblesSql("h", 3, 8)} AS v
        | FROM h),
        |rk AS (SELECT event_type, reg,
        |  CASE WHEN v = 0 THEN 33 ELSE 33 - length(bin(v)) END AS rnk FROM rv),
        |regs AS (SELECT event_type, reg, max(rnk) AS mreg
        | FROM rk GROUP BY 1, 2),
        |sums AS (SELECT event_type,
        |  count(*) AS n_occupied,
        |  CAST(sum(1::BIGINT << CAST(41 - mreg AS INTEGER)) AS BIGINT) AS s_occ
        | FROM regs GROUP BY event_type),
        |est AS (SELECT event_type, n_occupied,
        |  256 - n_occupied AS zeros,
        |  (0.7213 / (1 + 1.079 / 256.0)) * 256 * 256 * 2199023255552.0
        |   / CAST(s_occ + (256 - n_occupied) * 2199023255552 AS DOUBLE) AS raw_est
        | FROM sums),
        |e2 AS (SELECT event_type, n_occupied,
        |  CASE WHEN zeros > 0 AND raw_est <= 2.5 * 256
        |   THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE)) ELSE raw_est END AS est_u
        | FROM est),
        |ex AS (SELECT event_type, count(DISTINCT k) AS n_exact
        | FROM k GROUP BY event_type)
        |SELECT e2.event_type, ex.n_exact, e2.n_occupied,
        | round(est_u, 4) AS est,
        | round(abs(est_u - n_exact) / n_exact, 4) AS rel_err
        |FROM e2 JOIN ex USING (event_type)""".stripMargin,
    // q123: the streaming Complete-mode pivot's final state must equal
    // the batch pivot — same oracle as q43 by construction.
    "q123_stream_pivot" ->
      """SELECT user_id,
        | count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        | count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        | count(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY user_id""".stripMargin,
    // q124: int8 codes → approximate top-m → exact re-rank; both
    // stages on the (score desc, id asc) total order.
    "q124_sq8_rerank" ->
      s"""WITH $quantCte,
        |c8 AS (SELECT vec_id, list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE)*127) AS BIGINT)) AS v
        | FROM embeddings),
        |c8n AS (SELECT vec_id, v,
        |   CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM c8),
        |ap AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  $cosExpr AS approx
        | FROM c8n a JOIN c8n b ON a.vec_id < 5 AND b.vec_id >= 5),
        |tm AS (SELECT query_id, neighbor_id, approx FROM (
        |  SELECT query_id, neighbor_id, approx,
        |   row_number() OVER (PARTITION BY query_id
        |     ORDER BY approx DESC, neighbor_id) AS rm FROM ap) t
        | WHERE rm <= 10),
        |ex AS (SELECT tm.query_id, tm.neighbor_id, tm.approx,
        |  $cosExpr AS cosine
        | FROM tm JOIN m a ON a.vec_id = tm.query_id
        |  JOIN m b ON b.vec_id = tm.neighbor_id)
        |SELECT query_id, rank, neighbor_id, cosine,
        | approx AS approx_cosine FROM (
        | SELECT query_id, neighbor_id, cosine, approx,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS rank
        | FROM ex) t WHERE rank <= 3""".stripMargin,
    // q125: q92's register/rank/estimate formulas per source, pairwise
    // union via register max, intersection by inclusion-exclusion.
    "q125_hll_overlap" ->
      s"""WITH st AS (SELECT source, unnest(string_split(text, ' ')) AS k
        |  FROM documents),
        |h AS (SELECT source, md5(k) AS h FROM st),
        |rv AS (SELECT source,
        |  CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS BIGINT) AS reg,
        |  ${hexNibblesSql("h", 3, 8)} AS v
        | FROM h),
        |rk AS (SELECT source, reg,
        |  CASE WHEN v = 0 THEN 33 ELSE 33 - length(bin(v)) END AS rnk FROM rv),
        |regs AS (SELECT source, reg, max(rnk) AS mreg
        | FROM rk GROUP BY 1, 2),
        |s1 AS (SELECT source, count(*) AS n_occupied,
        |  CAST(sum(1::BIGINT << CAST(41 - mreg AS INTEGER)) AS BIGINT) AS s_occ
        | FROM regs GROUP BY source),
        |e1 AS (SELECT source,
        |  CASE WHEN (256 - n_occupied) > 0 AND
        |    (0.7213 / (1 + 1.079 / 256.0)) * 256 * 256 * 2199023255552.0
        |     / CAST(s_occ + (256 - n_occupied) * 2199023255552 AS DOUBLE) <= 2.5 * 256
        |   THEN 256.0 * ln(256.0 / CAST(256 - n_occupied AS DOUBLE))
        |   ELSE (0.7213 / (1 + 1.079 / 256.0)) * 256 * 256 * 2199023255552.0
        |     / CAST(s_occ + (256 - n_occupied) * 2199023255552 AS DOUBLE) END AS est
        | FROM s1),
        |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
        |  a.est AS est_a, b.est AS est_b
        | FROM e1 a JOIN e1 b ON a.source < b.source),
        |uregs AS (SELECT p.source_a, p.source_b, r.reg, max(r.mreg) AS mreg
        | FROM pairs p JOIN regs r
        |  ON r.source = p.source_a OR r.source = p.source_b
        | GROUP BY 1, 2, 3),
        |su AS (SELECT source_a, source_b, count(*) AS n_occupied,
        |  CAST(sum(1::BIGINT << CAST(41 - mreg AS INTEGER)) AS BIGINT) AS s_occ
        | FROM uregs GROUP BY 1, 2),
        |eu AS (SELECT source_a, source_b,
        |  CASE WHEN (256 - n_occupied) > 0 AND
        |    (0.7213 / (1 + 1.079 / 256.0)) * 256 * 256 * 2199023255552.0
        |     / CAST(s_occ + (256 - n_occupied) * 2199023255552 AS DOUBLE) <= 2.5 * 256
        |   THEN 256.0 * ln(256.0 / CAST(256 - n_occupied AS DOUBLE))
        |   ELSE (0.7213 / (1 + 1.079 / 256.0)) * 256 * 256 * 2199023255552.0
        |     / CAST(s_occ + (256 - n_occupied) * 2199023255552 AS DOUBLE) END AS est_u
        | FROM su),
        |dt AS (SELECT DISTINCT source, k FROM st),
        |exact AS (SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_exact
        | FROM dt a JOIN dt b ON a.k = b.k AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, n_exact,
        | round(est_a, 4) AS est_a, round(est_b, 4) AS est_b,
        | round(est_u, 4) AS est_union,
        | round(est_a + est_b - est_u, 4) AS est_intersect
        |FROM pairs p
        | JOIN eu ON p.source_a = eu.source_a AND p.source_b = eu.source_b
        | JOIN exact ON p.source_a = exact.source_a
        |  AND p.source_b = exact.source_b""".stripMargin,
    // q126: the oracle recomputes the aggregate FROM SCRATCH over all
    // events — the gate proves snapshot+delta merge ≡ full recompute.
    "q126_incremental_agg" ->
      """SELECT user_id, event_type, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    // q127: 64-byte chunk hashes (docs are ASCII — byte slices == char
    // slices, the q52 argument), CAS accounting per distinct chunk.
    "q127_chunk_dedup" ->
      """WITH f AS (SELECT doc_id, text,
        |  CAST(ceil(length(text) / 64.0) AS BIGINT) AS nc
        | FROM documents WHERE length(text) > 0),
        |x AS (SELECT doc_id, text, unnest(range(nc)) AS i FROM f),
        |c2 AS (SELECT
        |  sha256(substr(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS sha,
        |  CAST(length(substr(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS BIGINT) AS len
        | FROM x),
        |g AS (SELECT sha, count(*) AS refs, min(len) AS clen
        | FROM c2 GROUP BY sha)
        |SELECT CAST(sum(refs) AS BIGINT) AS n_chunks,
        | count(*) AS n_distinct_chunks,
        | CAST(sum(refs * clen) AS BIGINT) AS logical_bytes,
        | CAST(sum(clen) AS BIGINT) AS stored_bytes,
        | round(1.0 - CAST(sum(clen) AS DOUBLE)
        |   / CAST(CAST(sum(refs * clen) AS BIGINT) AS DOUBLE), 4) AS dedup_ratio
        |FROM g""".stripMargin,
    // q128: q108's exact integer moments per segment; slope/intercept/
    // r² as the same IEEE expression tree on both engines.
    "q128_group_regression" ->
      """WITH b AS (SELECT c_mktsegment,
        |  CAST(floor(l_quantity) AS BIGINT) AS x,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        | FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey),
        |g AS (SELECT c_mktsegment, count(*) AS n,
        |  sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
        |  sum(y*y) AS syy, sum(x*y) AS sxy FROM b GROUP BY 1)
        |SELECT c_mktsegment, n,
        | round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) AS slope_cents_per_unit,
        | round((CAST(sy AS DOUBLE)
        |   - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4) AS intercept_cents,
        | round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4) AS r2
        |FROM g""".stripMargin,
    // q174: exact Mann-Whitney AUC with midrank ties over the bounded
    // ppm-score domain; all-integer (hugeint sums mirror decimal-38).
    "q174_auc_rank" ->
      """WITH d AS (SELECT
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000
        |    // CAST(len(string_split(text, ' ')) AS BIGINT) AS score,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
        |g AS (SELECT score, CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(count(*) - sum(pos) AS BIGINT) AS n_neg FROM d GROUP BY score),
        |c AS (SELECT score, n_pos, n_neg,
        |  coalesce(sum(n_neg) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
        | FROM g)
        |SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
        | CAST(sum(n_neg) AS BIGINT) AS n_neg,
        | CAST(sum(n_pos * (2 * cum_neg + n_neg)) * 1000000
        |   // (2 * sum(n_pos) * sum(n_neg)) AS BIGINT) AS auc_ppm
        |FROM c""".stripMargin,
    // q175: q29's evidence scores read as p(en) ppm (Laplace +1),
    // decile reliability bins; exact integral ppm everywhere.
    "q175_calibration" ->
      """WITH b AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
        |sc AS (SELECT lang,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(toks, x -> x IN ('le','la','les','et'))) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(toks, x -> x IN ('el','los','las','y'))) AS BIGINT) AS s_es
        | FROM b),
        |p AS (SELECT s_en * 1000000 // (s_en + s_de + s_fr + s_es + 1) AS p_ppm,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM sc)
        |SELECT CAST(least(p_ppm // 100000, 9) AS BIGINT) AS bin,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(p_ppm) // count(*) AS BIGINT) AS mean_pred_ppm,
        | CAST(sum(pos) * 1000000 // count(*) AS BIGINT) AS obs_ppm,
        | CAST(sum(pos) * 1000000 // count(*)
        |   - sum(p_ppm) // count(*) AS BIGINT) AS gap_ppm
        |FROM p GROUP BY 1""".stripMargin,
    // q176: PSI over 12 fixed length bins, A = old-version membership,
    // B = new-version with the injected +40 shift on doc_id%3==0;
    // Laplace ppm shares exact, ln-term rounded to 6dp per bin.
    "q176_psi_drift" ->
      """WITH ac AS (SELECT least(n_chars // 50, 11) AS bin, count(*) AS n_a
        | FROM documents WHERE doc_id % 11 <> 0 GROUP BY 1),
        |bc AS (SELECT least((CASE WHEN doc_id % 3 = 0 THEN n_chars + 40
        |    ELSE n_chars END) // 50, 11) AS bin, count(*) AS n_b
        | FROM documents WHERE doc_id % 13 <> 0 GROUP BY 1),
        |bins AS (SELECT unnest(range(12)) AS bin),
        |j AS (SELECT bins.bin, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        | FROM bins LEFT JOIN ac ON bins.bin = ac.bin
        |  LEFT JOIN bc ON bins.bin = bc.bin),
        |t AS (SELECT sum(n_a) AS tot_a, sum(n_b) AS tot_b FROM j),
        |f AS (SELECT bin, n_a, n_b,
        |  CAST((n_a + 1) * 1000000 // (tot_a + 12) AS BIGINT) AS pa_ppm,
        |  CAST((n_b + 1) * 1000000 // (tot_b + 12) AS BIGINT) AS pb_ppm
        | FROM j CROSS JOIN t)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(n_a AS BIGINT) AS n_a,
        | CAST(n_b AS BIGINT) AS n_b, pa_ppm, pb_ppm,
        | round((pa_ppm - pb_ppm) / 1e6
        |   * ln(CAST(pa_ppm AS DOUBLE) / pb_ppm), 6) AS psi_contrib
        |FROM f""".stripMargin,
    // q177: adjacent-bigram pointwise lift (exp-PMI, rank-identical),
    // marginals from the same bigram table, min-count 5, top-20.
    "q177_pmi_collocations" ->
      """WITH b AS (SELECT string_split(text, ' ') AS toks FROM documents
        | WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT unnest(list_transform(range(len(toks) - 1),
        |    i -> toks[i+1] || ' ' || toks[i+2])) AS g FROM b),
        |w AS (SELECT string_split(g, ' ')[1] AS w1,
        |  string_split(g, ' ')[2] AS w2 FROM bg),
        |p AS (SELECT w1, w2, count(*) AS c_ab FROM w GROUP BY 1, 2),
        |l AS (SELECT w1, sum(c_ab) AS c_a FROM p GROUP BY 1),
        |r AS (SELECT w2, sum(c_ab) AS c_b FROM p GROUP BY 1),
        |t AS (SELECT sum(c_ab) AS n_bigrams FROM p)
        |SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
        | CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
        | CAST(c_ab * n_bigrams * 1000000 // (c_a * c_b) AS BIGINT) AS lift_ppm
        |FROM p JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
        |WHERE c_ab >= 5
        |ORDER BY lift_ppm DESC, w1, w2 LIMIT 20""".stripMargin,
    // q178: q22's band candidates verified by exact trigram Jaccard
    // at 0.5 in integer form (2*common >= |A|+|B|-common).
    "q178_lsh_precision" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |v AS (SELECT c.d1, c.d2,
        |  CAST(len(list_intersect(t1.sh, t2.sh)) AS BIGINT) AS common,
        |  CAST(len(t1.sh) AS BIGINT) AS l1, CAST(len(t2.sh) AS BIGINT) AS l2
        | FROM c JOIN t t1 ON c.d1 = t1.doc_id JOIN t t2 ON c.d2 = t2.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_candidates,
        | CAST(sum(CASE WHEN 2 * common >= l1 + l2 - common
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        | CAST(sum(CASE WHEN 2 * common >= l1 + l2 - common
        |   THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS precision_ppm
        |FROM v""".stripMargin,
    // q179: generation split is event_id parity; legacy (even) rows
    // count but contribute zero revenue — layout never changes results.
    "q179_schema_evolution" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_legacy,
        | CAST(sum(CASE WHEN event_id % 2 = 1
        |   THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |   AS value_cents
        |FROM events GROUP BY event_type""".stripMargin,
    // q180: 5-bit-per-dimension Morton interleave via div/mod, 16-cell
    // blocks, 4x4 aligned box query; blocks touched per layout.
    "q180_zorder_locality" ->
      """WITH e AS (SELECT user_id % 32 AS u,
        |  (epoch_us(ts) // 86400000000) % 32 AS d FROM events),
        |m AS (SELECT u, d,
        |  (((u // 1) % 2) * 2 + ((d // 1) % 2) * 1
        |   + ((u // 2) % 2) * 8 + ((d // 2) % 2) * 4
        |   + ((u // 4) % 2) * 32 + ((d // 4) % 2) * 16
        |   + ((u // 8) % 2) * 128 + ((d // 8) % 2) * 64
        |   + ((u // 16) % 2) * 512 + ((d // 16) % 2) * 256) AS z,
        |  u * 32 + d AS lin,
        |  (u BETWEEN 8 AND 11 AND d BETWEEN 8 AND 11) AS in_box FROM e)
        |SELECT CAST(sum(CASE WHEN in_box THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_box_rows,
        | CAST(count(DISTINCT z // 16) AS BIGINT) AS z_blocks_total,
        | CAST(count(DISTINCT lin // 16) AS BIGINT) AS lin_blocks_total,
        | CAST(count(DISTINCT CASE WHEN in_box THEN z // 16 END) AS BIGINT)
        |   AS z_blocks_touched,
        | CAST(count(DISTINCT CASE WHEN in_box THEN lin // 16 END) AS BIGINT)
        |   AS lin_blocks_touched
        |FROM m""".stripMargin,
    // q181: full-recompute ground truth — recursive closure over the
    // whole corpus's band graph (q59's oracle) + singleton fill; the
    // incremental super-node path must reproduce it exactly.
    "q181_incremental_components" ->
      s"""WITH RECURSIVE $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM c UNION SELECT d2, d1 FROM c),
        |r AS (SELECT v, u FROM adj
        | UNION SELECT r.v, adj.u FROM r, adj WHERE r.u = adj.v),
        |comp AS (SELECT v AS doc_id, least(v, min(u)) AS component
        | FROM r GROUP BY v)
        |SELECT d.doc_id,
        | CAST(coalesce(comp.component, d.doc_id) AS BIGINT) AS component
        |FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id""".stripMargin,
    // q182: per-candidate full-signature vs 1-bit estimates; low bit =
    // last md5 hex nibble parity, correction 2a-1 clamped at 0.
    "q182_bbit_minhash" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |s1 AS (SELECT doc_id, [h0,h1,h2,h3,h4,h5,h6,h7] AS hs FROM sig),
        |v AS (SELECT c.d1, c.d2,
        |  CAST(len(list_filter(range(8), i -> a.hs[i+1] = b.hs[i+1]))
        |    AS BIGINT) AS m8,
        |  CAST(len(list_filter(range(8), i ->
        |    ((strpos('0123456789abcdef', substr(a.hs[i+1], 32, 1)) - 1) % 2)
        |    = ((strpos('0123456789abcdef', substr(b.hs[i+1], 32, 1)) - 1) % 2)))
        |    AS BIGINT) AS a8
        | FROM c JOIN s1 a ON c.d1 = a.doc_id JOIN s1 b ON c.d2 = b.doc_id)
        |SELECT d1, d2, m8, a8,
        | CAST(m8 * 1000000 // 8 AS BIGINT) AS est_full_ppm,
        | CAST(greatest(2 * (a8 * 1000000 // 8) - 1000000, 0) AS BIGINT)
        |   AS est_b1_ppm,
        | CAST(greatest(2 * (a8 * 1000000 // 8) - 1000000, 0)
        |   - m8 * 1000000 // 8 AS BIGINT) AS err_ppm
        |FROM v""".stripMargin,
    // q183: IVF top-10 (nprobe=2) vs brute-force ideal, graded 3/2/1
    // by ideal rank; integer ppm discount weights, constant IDCG.
    "q183_ndcg_eval" ->
      s"""WITH $ivfScoreCtes,
        |ap AS (SELECT query_id, neighbor_id, rk AS ar FROM (
        | SELECT query_id, neighbor_id, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
        | FROM sc) t WHERE rk <= 10),
        |ex AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  $cosExpr AS cosine
        | FROM m a JOIN m b ON a.vec_id < 5 AND b.vec_id >= 5),
        |er AS (SELECT query_id, neighbor_id,
        |  CASE WHEN rk <= 2 THEN 3 WHEN rk <= 5 THEN 2 ELSE 1 END AS rel
        | FROM (SELECT query_id, neighbor_id, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
        |  FROM ex) t WHERE rk <= 10),
        |j AS (SELECT ap.query_id, ap.ar, coalesce(er.rel, 0) AS rel
        | FROM ap LEFT JOIN er ON ap.query_id = er.query_id
        |  AND ap.neighbor_id = er.neighbor_id),
        |d AS (SELECT query_id, CAST(sum(rel * CASE ar
        |   WHEN 1 THEN 1000000 WHEN 2 THEN 630930 WHEN 3 THEN 500000
        |   WHEN 4 THEN 430677 WHEN 5 THEN 386853 WHEN 6 THEN 356207
        |   WHEN 7 THEN 333333 WHEN 8 THEN 315465 WHEN 9 THEN 301030
        |   WHEN 10 THEN 289065 ELSE 0 END) AS BIGINT) AS dcg_ppm
        | FROM j GROUP BY 1)
        |SELECT query_id, dcg_ppm, CAST(9122950 AS BIGINT) AS idcg_ppm,
        | CAST(dcg_ppm * 1000000 // 9122950 AS BIGINT) AS ndcg_ppm
        |FROM d""".stripMargin,
    // q184: Poisson(1) weights from 32-bit md5 thresholds, 100
    // replicate means in exact milli-chars, CI = ranks 3/98.
    "q184_bootstrap_ci" ->
      s"""WITH rs AS (SELECT unnest(range(100)) AS r),
        |e AS (SELECT doc_id, n_chars, r FROM documents, rs),
        |uu AS (SELECT r, n_chars,
        |  ${hex8Sql("concat('boot', r, '|', doc_id)")} AS u FROM e),
        |wv AS (SELECT r, n_chars, 5 -
        |  (CASE WHEN u < 1580030168 THEN 1 ELSE 0 END
        |   + CASE WHEN u < 3160060337 THEN 1 ELSE 0 END
        |   + CASE WHEN u < 3950075421 THEN 1 ELSE 0 END
        |   + CASE WHEN u < 4213413783 THEN 1 ELSE 0 END
        |   + CASE WHEN u < 4279248373 THEN 1 ELSE 0 END) AS w FROM uu),
        |mm AS (SELECT r, CAST(sum(w * n_chars) * 1000 // sum(w) AS BIGINT)
        |   AS mean_milli FROM wv GROUP BY r),
        |rk AS (SELECT r, mean_milli,
        |  row_number() OVER (ORDER BY mean_milli, r) AS rk FROM mm),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) * 1000 // count(*) AS BIGINT) AS mean_milli
        | FROM documents)
        |SELECT p.n_docs, CAST(100 AS BIGINT) AS n_replicates, p.mean_milli,
        | (SELECT mean_milli FROM rk WHERE rk = 3) AS ci_lo_milli,
        | (SELECT mean_milli FROM rk WHERE rk = 98) AS ci_hi_milli
        |FROM p""".stripMargin,
    // q185: per-user lead()x2 3-step paths, corpus count, top-10.
    "q185_path_topk" ->
      """WITH s AS (SELECT user_id, epoch_us(ts) AS ts, event_id,
        |  event_type FROM events),
        |w AS (SELECT event_type AS t1,
        |  lead(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS t2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS t3
        | FROM s)
        |SELECT t1 || ' > ' || t2 || ' > ' || t3 AS path,
        | CAST(count(*) AS BIGINT) AS n
        |FROM w WHERE t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,
    // q186: q113's hamming pair graph -> recursive closure ->
    // largest-binary keeper per cluster (ties smallest id).
    "q186_media_canonical" ->
      """WITH RECURSIVE b AS (SELECT doc_id,
        |  list_transform(range(1, 65), i ->
        |   CASE WHEN ascii(substr(text, CAST(i AS INTEGER), 1))
        |     < ascii(substr(text, CAST(i + 1 AS INTEGER), 1)) THEN 1 ELSE 0 END) AS bits
        | FROM documents WHERE len(text) >= 65),
        |h AS (SELECT doc_id, array_to_string(list_transform(range(0, 16), j ->
        |   substr('0123456789abcdef',
        |     bits[CAST(j*4+1 AS INTEGER)]*8 + bits[CAST(j*4+2 AS INTEGER)]*4
        |     + bits[CAST(j*4+3 AS INTEGER)]*2 + bits[CAST(j*4+4 AS INTEGER)] + 1, 1)), '') AS dhash
        | FROM b),
        |bd AS (SELECT doc_id, unnest(range(8)) AS band,
        |  substr(dhash, CAST(unnest(range(8))*2 + 1 AS INTEGER), 2) AS band_key FROM h),
        |c AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
        | FROM bd x JOIN bd y ON x.band = y.band AND x.band_key = y.band_key
        |  AND x.doc_id < y.doc_id),
        |v AS (SELECT id1, id2,
        |  CAST(list_sum(list_transform(range(16), j ->
        |    bit_count(xor(
        |     CAST(strpos('0123456789abcdef', substr(a.dhash, CAST(j+1 AS INTEGER), 1)) - 1 AS BIGINT),
        |     CAST(strpos('0123456789abcdef', substr(bb.dhash, CAST(j+1 AS INTEGER), 1)) - 1 AS BIGINT))))) AS BIGINT) AS hamming
        | FROM c JOIN h a ON id1 = a.doc_id JOIN h bb ON id2 = bb.doc_id),
        |ee AS (SELECT id1, id2 FROM v WHERE hamming <= 8),
        |adj AS (SELECT id1 AS vv, id2 AS u FROM ee UNION SELECT id2, id1 FROM ee),
        |r AS (SELECT vv, u FROM adj
        | UNION SELECT r.vv, adj.u FROM r, adj WHERE r.u = adj.vv),
        |comp AS (SELECT vv AS doc_id, least(vv, min(u)) AS component
        | FROM r GROUP BY vv),
        |el AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS nb
        | FROM documents WHERE len(text) >= 65),
        |mm AS (SELECT el.doc_id,
        |  coalesce(comp.component, el.doc_id) AS component, nb
        | FROM el LEFT JOIN comp ON el.doc_id = comp.doc_id)
        |SELECT component, n_members, keep_id, keep_bytes FROM (
        | SELECT component,
        |  CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members,
        |  doc_id AS keep_id, nb AS keep_bytes,
        |  row_number() OVER (PARTITION BY component
        |    ORDER BY nb DESC, doc_id) AS rk
        | FROM mm) t WHERE rk = 1""".stripMargin,
    // q187: derived inflection (position-hash picks none/s/ing/ed),
    // then len>=5 forms lose one trailing ing|ed|es|s (leftmost-
    // first alternation, identical in Java regex and RE2).
    "q187_stem_vocab" ->
      s"""WITH tok AS (SELECT doc_id,
        |  unnest(string_split(text, ' ')) AS t0,
        |  generate_subscripts(string_split(text, ' '), 1) - 1 AS p
        | FROM documents),
        |f AS (SELECT doc_id, t0, p FROM tok WHERE len(t0) > 0),
        |iv AS (SELECT t0 || (CASE ${hex8Sql("concat('inflect|', doc_id, '|', p)")} % 4
        |   WHEN 1 THEN 's' WHEN 2 THEN 'ing' WHEN 3 THEN 'ed'
        |   ELSE '' END) AS t FROM f),
        |st AS (SELECT t, CASE WHEN len(t) >= 5
        |   THEN regexp_replace(t, '(ing|ed|es|s)$$', '') ELSE t END AS stem
        | FROM iv),
        |ps AS (SELECT stem, count(DISTINCT t) AS n_forms FROM st GROUP BY stem)
        |SELECT CAST(sum(n_forms) AS BIGINT) AS vocab_surface,
        | CAST(count(*) AS BIGINT) AS vocab_stems,
        | CAST((sum(n_forms) - count(*)) * 1000000 // sum(n_forms) AS BIGINT)
        |   AS reduction_ppm,
        | CAST(sum(CASE WHEN n_forms >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_merged_stems
        |FROM ps""".stripMargin,
    // q188: q173's feature extraction + seeded-hash fold; per-fold
    // balance report, all exact integral ppm/milli.
    "q188_group_kfold" ->
      s"""WITH e AS (SELECT user_id, event_type, value, epoch_us(ts) AS ts
        | FROM events),
        |b AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM e),
        |c AS (SELECT t0 + ((t1 - t0) * 4) // 5 AS cutoff FROM b),
        |f AS (SELECT user_id,
        |  CAST(sum(CASE WHEN ts < cutoff
        |    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS value_cents_pre,
        |  CAST(sum(CASE WHEN ts < cutoff THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
        |  CAST(1 - max(CASE WHEN ts >= cutoff THEN 1 ELSE 0 END) AS BIGINT)
        |    AS churned
        | FROM e CROSS JOIN c GROUP BY user_id),
        |g AS (SELECT ${hex8Sql("concat('fold|', user_id)")} % 5 AS fold,
        |  value_cents_pre, n_pre, churned FROM f)
        |SELECT CAST(fold AS BIGINT) AS fold,
        | CAST(count(*) AS BIGINT) AS n_users,
        | CAST(sum(churned) AS BIGINT) AS n_churned,
        | CAST(sum(churned) * 1000000 // count(*) AS BIGINT) AS churn_ppm,
        | CAST(sum(value_cents_pre) AS BIGINT) AS value_cents,
        | CAST(sum(n_pre) * 1000 // count(*) AS BIGINT) AS mean_events_milli
        |FROM g GROUP BY 1""".stripMargin,
    // q189: truncated power-ladder EWMA (weights 128..1 over lags
    // 1-8, sum 255), contiguity-guarded, cross-multiplied alarm.
    "q189_ewma_spikes" ->
      """WITH hourly AS (SELECT epoch_us(ts) // 3600000000 AS h,
        |  count(*) AS n FROM events GROUP BY 1),
        |l AS (SELECT h, n,
        |  lag(n, 1) OVER (ORDER BY h) AS n1,
        |  lag(n, 2) OVER (ORDER BY h) AS n2,
        |  lag(n, 3) OVER (ORDER BY h) AS n3,
        |  lag(n, 4) OVER (ORDER BY h) AS n4,
        |  lag(n, 5) OVER (ORDER BY h) AS n5,
        |  lag(n, 6) OVER (ORDER BY h) AS n6,
        |  lag(n, 7) OVER (ORDER BY h) AS n7,
        |  lag(n, 8) OVER (ORDER BY h) AS n8,
        |  lag(h, 8) OVER (ORDER BY h) AS h8
        | FROM hourly)
        |SELECT CAST(h AS BIGINT) AS h, CAST(n AS BIGINT) AS n,
        | CAST((n1*128 + n2*64 + n3*32 + n4*16 + n5*8 + n6*4 + n7*2 + n8)
        |   * 1000 // 255 AS BIGINT) AS ewma_milli,
        | CAST(CASE WHEN n * 255 >
        |   2 * (n1*128 + n2*64 + n3*32 + n4*16 + n5*8 + n6*4 + n7*2 + n8)
        |  THEN 1 ELSE 0 END AS BIGINT) AS spike
        |FROM l WHERE h8 = h - 8""".stripMargin,
    // q190: q174's scored frame → decile bins → suffix-sum confusion
    // entries per threshold; exact integral ppm, null precision at 0/0.
    "q190_pr_curve" ->
      """WITH d AS (SELECT
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000
        |    // CAST(len(string_split(text, ' ')) AS BIGINT) AS score,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
        |b AS (SELECT score // 100000 AS b, count(*) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos FROM d GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS p_total FROM b),
        |t AS (SELECT unnest(generate_series(0, 10)) AS t),
        |j AS (SELECT t.t, coalesce(sum(b.n), 0) AS n_pred_pos,
        |  coalesce(sum(b.n_pos), 0) AS tp
        | FROM t LEFT JOIN b ON b.b >= t.t GROUP BY t.t)
        |SELECT CAST(t * 100000 AS BIGINT) AS threshold_ppm,
        | CAST(n_pred_pos AS BIGINT) AS n_pred_pos, CAST(tp AS BIGINT) AS tp,
        | CAST(tp * 1000000 // nullif(n_pred_pos, 0) AS BIGINT) AS precision_ppm,
        | CAST(tp * 1000000 // p_total AS BIGINT) AS recall_ppm,
        | CAST(tp * 2000000 // (n_pred_pos + p_total) AS BIGINT) AS f1_ppm
        |FROM j CROSS JOIN tot""".stripMargin,
    // q191: hour-of-day profile, leave-one-out cross-multiplied spike
    // test, d >= 2 guard; <= 24 report rows.
    "q191_seasonal_spikes" ->
      """WITH hh AS (SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS n
        | FROM events GROUP BY 1),
        |hd AS (SELECT h, n, h % 24 AS hod FROM hh),
        |p AS (SELECT hod, CAST(sum(n) AS BIGINT) AS total,
        |  count(*) AS d FROM hd GROUP BY 1)
        |SELECT CAST(hd.hod AS BIGINT) AS hod, CAST(max(d) AS BIGINT) AS n_days,
        | CAST(max(total * 1000 // d) AS BIGINT) AS mean_milli,
        | CAST(sum(CASE WHEN n * (d - 1) > 2 * (total - n) THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_spikes,
        | CAST(max(n) AS BIGINT) AS max_n
        |FROM hd JOIN p ON hd.hod = p.hod WHERE d >= 2 GROUP BY 1""".stripMargin,
    // q192: per-id min-ts dedup before the successor join (one logical
    // reordering per sequence position), range left-join => 8 rows.
    "q192_wal_integrity" ->
      """WITH u AS (SELECT event_id, min(ts) AS ts FROM events GROUP BY 1),
        |st AS (SELECT event_id % 8 AS shard, count(*) AS n_rows,
        |  count(DISTINCT event_id) AS n_ids,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        | FROM events GROUP BY 1),
        |late AS (SELECT a.event_id % 8 AS shard, count(*) AS n_late
        | FROM u a JOIN u b ON b.event_id = a.event_id + 8
        | WHERE b.ts < a.ts GROUP BY 1)
        |SELECT r.shard, coalesce(n_rows, 0) AS n_rows,
        | coalesce(n_ids, 0) AS n_ids, min_id, max_id,
        | (max_id - min_id) // 8 + 1 - n_ids AS n_gaps,
        | coalesce(n_rows - n_ids, 0) AS n_dups,
        | coalesce(n_late, 0) AS n_late
        |FROM (SELECT unnest(range(8)) AS shard) r
        |LEFT JOIN st USING (shard) LEFT JOIN late USING (shard)""".stripMargin,
    // q195: the STREAMING monitor's final state must equal the batch
    // audit (q192's SQL verbatim): first-delivery dedup = global
    // min-ts under the range-staged WAL, counters are batch-additive,
    // and each successor pair is checked exactly once.
    "q195_stream_wal_integrity" ->
      """WITH u AS (SELECT event_id, min(ts) AS ts FROM events GROUP BY 1),
        |st AS (SELECT event_id % 8 AS shard, count(*) AS n_rows,
        |  count(DISTINCT event_id) AS n_ids,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        | FROM events GROUP BY 1),
        |late AS (SELECT a.event_id % 8 AS shard, count(*) AS n_late
        | FROM u a JOIN u b ON b.event_id = a.event_id + 8
        | WHERE b.ts < a.ts GROUP BY 1)
        |SELECT r.shard, coalesce(n_rows, 0) AS n_rows,
        | coalesce(n_ids, 0) AS n_ids, min_id, max_id,
        | (max_id - min_id) // 8 + 1 - n_ids AS n_gaps,
        | coalesce(n_rows - n_ids, 0) AS n_dups,
        | coalesce(n_late, 0) AS n_late
        |FROM (SELECT unnest(range(8)) AS shard) r
        |LEFT JOIN st USING (shard) LEFT JOIN late USING (shard)""".stripMargin,
    // q193: exact integer moments per lag; the variance/covariance
    // products are widened to HUGEINT (mirror of Spark's
    // Decimal(38,0)) so n·Σx² never wraps; r null on zero variance
    // (guard on the exact widened variance, matching the Spark
    // side); single-row recommendation cross-joined back on.
    "q193_acf_lags" ->
      """WITH hourly AS (SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS x
        | FROM events GROUP BY 1),
        |p AS (SELECT l.lag, a.x AS x, b.x AS y
        | FROM hourly a CROSS JOIN (SELECT unnest(range(1, 25)) AS lag) l
        | JOIN hourly b ON b.h = a.h + l.lag),
        |m AS (SELECT lag, count(*) AS n_pairs,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy FROM p GROUP BY 1),
        |o AS (SELECT lag, n_pairs, sx, sy, sxx, syy, sxy,
        | CASE WHEN CAST(n_pairs AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx <= 0
        |    OR CAST(n_pairs AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy <= 0
        |  THEN NULL
        |  ELSE round(CAST(CAST(n_pairs AS HUGEINT) * sxy
        |     - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |   / (sqrt(CAST(CAST(n_pairs AS HUGEINT) * sxx
        |       - CAST(sx AS HUGEINT) * sx AS DOUBLE))
        |      * sqrt(CAST(CAST(n_pairs AS HUGEINT) * syy
        |       - CAST(sy AS HUGEINT) * sy AS DOUBLE))), 4) END AS r
        |FROM m),
        |rec AS (SELECT CASE
        |  WHEN max(CASE WHEN lag = 24 THEN r END) IS NOT NULL
        |   AND max(CASE WHEN lag = 24 THEN r END) >= 0.5
        |   AND max(CASE WHEN lag = 24 THEN r END) >= max(r) THEN 'seasonal'
        |  WHEN max(CASE WHEN lag = 1 THEN r END) >= 0.3 THEN 'ewma'
        |  ELSE 'flat' END AS recommended FROM o)
        |SELECT o.*, rec.recommended FROM o CROSS JOIN rec""".stripMargin,
    // q194: q22's band pairs verified by Levenshtein over the q49
    // normalizer's 120-char prefix, PLUS the full-length ratio gate
    // (un-truncated normalized lengths within 30% — closes the
    // equal-prefix/divergent-tail FP the truncation admits); both
    // engines' levenshtein is textbook edit distance so parity is
    // exact.
    "q194_edit_verify" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |pfx AS (SELECT doc_id, substr(n, 1, 120) AS t,
        |  CAST(len(n) AS BIGINT) AS fl
        | FROM (SELECT doc_id, regexp_replace(regexp_replace(
        |   lower(text), '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g') AS n
        |  FROM documents)),
        |v AS (SELECT d1, d2,
        |  CAST(levenshtein(p1.t, p2.t) AS BIGINT) AS dist,
        |  CAST(greatest(len(p1.t), len(p2.t)) AS BIGINT) AS mlen,
        |  p1.fl AS fl1, p2.fl AS fl2
        | FROM c JOIN pfx p1 ON d1 = p1.doc_id JOIN pfx p2 ON d2 = p2.doc_id)
        |SELECT d1, d2, dist, (mlen - dist) * 1000000 // mlen AS sim_ppm
        |FROM v WHERE mlen > 0 AND dist * 1000000 <= mlen * 300000
        | AND abs(fl1 - fl2) * 1000000 <= greatest(fl1, fl2) * 300000""".stripMargin,
    // q196: docs binned into 10 equal id-range slices; a token's
    // first bucket = min(bucket); cumulate over the 10-row table.
    "q196_heaps_vocab" ->
      """WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
        |d AS (SELECT doc_id, text,
        |  least(9, (doc_id - mn) * 10 // (mx - mn + 1)) AS bucket
        | FROM documents, b),
        |pb AS (SELECT bucket, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        | FROM d GROUP BY 1),
        |fs AS (SELECT tok, min(bucket) AS bucket FROM
        |  (SELECT bucket, unnest(string_split(text, ' ')) AS tok FROM d)
        | GROUP BY tok),
        |nt AS (SELECT bucket, count(*) AS new_types FROM fs GROUP BY 1)
        |SELECT CAST(pb.bucket AS BIGINT) AS bucket,
        | CAST(sum(n_docs) OVER w AS BIGINT) AS n_docs_cum,
        | CAST(sum(n_tokens) OVER w AS BIGINT) AS n_tokens_cum,
        | CAST(coalesce(new_types, 0) AS BIGINT) AS new_types,
        | CAST(sum(coalesce(new_types, 0)) OVER w AS BIGINT) AS vocab_cum
        |FROM pb LEFT JOIN nt USING (bucket)
        |WINDOW w AS (ORDER BY pb.bucket
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    // q197: base-only centroids (frozen), every vector assigned to
    // them (q99's assignment CTEs), delta left-joined to its cell's
    // base members for candidate count + best match + verdict.
    "q197_ivf_delta_probe" ->
      """WITH q AS (SELECT vec_id, label, list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        | FROM embeddings),
        |m AS (SELECT vec_id, label, v,
        |  CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM q),
        |cu AS (SELECT label, unnest(v) AS x,
        |  generate_subscripts(v, 1) - 1 AS pos FROM q WHERE vec_id % 5 != 0),
        |cs AS (SELECT label, pos, sum(x) AS sx, count(*) AS nv FROM cu GROUP BY 1, 2),
        |cl AS (SELECT label,
        |  list(CAST(trunc(CAST(sx AS DOUBLE) / nv) AS BIGINT) ORDER BY pos) AS cv
        | FROM cs GROUP BY label),
        |cn AS (SELECT label, cv,
        |  CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS cn2 FROM cl),
        |ac AS (SELECT m.vec_id, m.v, m.n2, cn.label,
        |  CAST(CAST(list_sum(list_transform(range(64), i -> m.v[i+1] * cn.cv[i+1])) AS BIGINT) AS DOUBLE)
        |   / (sqrt(CAST(m.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE))) AS ccos
        | FROM m, cn),
        |asg AS (SELECT vec_id, v, n2, cell FROM (SELECT vec_id, v, n2,
        |   label AS cell, row_number() OVER (PARTITION BY vec_id
        |     ORDER BY ccos DESC, label) AS rk FROM ac) t WHERE rk = 1),
        |dd AS (SELECT * FROM asg WHERE vec_id % 5 = 0),
        |bb AS (SELECT * FROM asg WHERE vec_id % 5 != 0),
        |sc AS (SELECT dd.vec_id, bb.vec_id AS bid,
        |  CAST(CAST(list_sum(list_transform(range(64), i -> dd.v[i+1] * bb.v[i+1])) AS BIGINT) AS DOUBLE)
        |   / (sqrt(CAST(dd.n2 AS DOUBLE)) * sqrt(CAST(bb.n2 AS DOUBLE))) AS cosine
        | FROM dd JOIN bb ON dd.cell = bb.cell),
        |ag AS (SELECT vec_id, count(*) AS n_cands FROM sc GROUP BY 1),
        |bst AS (SELECT vec_id, bid, cosine FROM (SELECT vec_id, bid, cosine,
        |   row_number() OVER (PARTITION BY vec_id
        |     ORDER BY cosine DESC, bid) AS rk FROM sc) t WHERE rk = 1)
        |SELECT dd.vec_id, CAST(dd.cell AS BIGINT) AS cell,
        | CAST(coalesce(ag.n_cands, 0) AS BIGINT) AS n_cands,
        | bst.bid AS best_id, round(bst.cosine, 6) AS best_cos,
        | CASE WHEN bst.cosine >= 0.4 THEN 'drop_near' ELSE 'keep' END AS verdict
        |FROM dd LEFT JOIN ag USING (vec_id) LEFT JOIN bst USING (vec_id)""".stripMargin,
    // q198: q158's seeded-hash arrival world; per event the ceil
    // 5-minute step past its hour end, cumulated to a ppm curve.
    "q198_completeness_curve" ->
      s"""WITH e AS (SELECT epoch_us(ts)
        |   + ${hex8Sql("concat('lag|', event_id)")} % 1800000000 AS arrival,
        |  (epoch_us(ts) // 3600000000 + 1) * 3600000000 AS hour_end
        | FROM events),
        |d AS (SELECT CASE WHEN arrival <= hour_end THEN 0
        |   ELSE (arrival - hour_end - 1) // 300000000 + 1 END AS delay_steps
        | FROM e),
        |g AS (SELECT delay_steps, count(*) AS n_events FROM d GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM e)
        |SELECT CAST(delay_steps AS BIGINT) AS delay_steps,
        | CAST(n_events AS BIGINT) AS n_events,
        | CAST(sum(n_events) OVER w AS BIGINT) AS n_cum,
        | CAST(sum(n_events) OVER w * 1000000 // t.n AS BIGINT) AS frac_ppm
        |FROM g, t
        |WINDOW w AS (ORDER BY delay_steps
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    // q199: same QI classes / bands as q130/q145; ordered EMD with
    // HUGEINT cross products (Spark: Decimal(38,0)), one division,
    // rounded to 6 BEFORE the t gate so both engines compare the
    // same number.
    "q199_t_closeness" ->
      """WITH c AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |  CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT) AS band
        | FROM customer),
        |cls AS (SELECT seg, nat, count(*) AS n FROM c GROUP BY 1, 2),
        |gb AS (SELECT band, count(*) AS g FROM c GROUP BY 1),
        |tot AS (SELECT count(*) AS nn, count(DISTINCT band) AS m FROM c),
        |cb AS (SELECT seg, nat, band, count(*) AS cnt FROM c GROUP BY 1, 2, 3),
        |grid AS (SELECT cls.seg, cls.nat, cls.n, gb.band, gb.g,
        |  coalesce(cb.cnt, 0) AS cnt
        | FROM cls CROSS JOIN gb
        | LEFT JOIN cb ON cb.seg = cls.seg AND cb.nat = cls.nat
        |   AND cb.band = gb.band),
        |cum AS (SELECT seg, nat, n, band,
        |  sum(cnt) OVER w AS ci, sum(g) OVER w AS gi
        | FROM grid WINDOW w AS (PARTITION BY seg, nat ORDER BY band
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |pc AS (SELECT seg, nat, max(n) AS n,
        |  sum(abs(CAST(tot.nn AS HUGEINT) * ci - CAST(n AS HUGEINT) * gi)) AS sdev,
        |  max(tot.nn) AS nn, max(tot.m) AS m
        | FROM cum CROSS JOIN tot GROUP BY 1, 2),
        |e AS (SELECT seg, n,
        |  round(CAST(sdev AS DOUBLE)
        |   / (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(m - 1 AS DOUBLE)),
        |   6) AS emd FROM pc)
        |SELECT seg AS c_mktsegment, count(*) AS n_classes,
        | CAST(sum(n) AS BIGINT) AS n_rows, max(emd) AS max_emd,
        | CAST(sum(CASE WHEN emd > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_risk_classes,
        | CAST(sum(CASE WHEN emd > 0.2 THEN n ELSE 0 END) AS BIGINT)
        |   AS n_risk_rows,
        | round(CAST(sum(CASE WHEN emd > 0.2 THEN n ELSE 0 END) AS BIGINT)
        |   / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE), 4) AS risk_row_frac
        |FROM e GROUP BY seg""".stripMargin,
    // q200: one shared hourly CTE feeds all three monitor chains +
    // the ACF chooser; spike totals are the per-hour counts of each
    // gated monitor's own integer test.
    "q200_auto_anomaly" ->
      """WITH hh AS (SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS n
        | FROM events GROUP BY 1),
        |fw AS (SELECT h, n,
        |  CAST(sum(n) OVER (ORDER BY h
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s24,
        |  count(n) OVER (ORDER BY h
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS c24
        | FROM hh),
        |f AS (SELECT CAST(coalesce(sum(CASE
        |    WHEN (n * 24000000) // s24 > 2000000 THEN 1 ELSE 0 END), 0)
        |   AS BIGINT) AS n_flat FROM fw WHERE c24 = 24),
        |el AS (SELECT h, n,
        |  lag(n, 1) OVER (ORDER BY h) AS n1, lag(n, 2) OVER (ORDER BY h) AS n2,
        |  lag(n, 3) OVER (ORDER BY h) AS n3, lag(n, 4) OVER (ORDER BY h) AS n4,
        |  lag(n, 5) OVER (ORDER BY h) AS n5, lag(n, 6) OVER (ORDER BY h) AS n6,
        |  lag(n, 7) OVER (ORDER BY h) AS n7, lag(n, 8) OVER (ORDER BY h) AS n8,
        |  lag(h, 8) OVER (ORDER BY h) AS h8
        | FROM hh),
        |e AS (SELECT CAST(coalesce(sum(CASE WHEN n * 255 >
        |    2 * (n1*128 + n2*64 + n3*32 + n4*16 + n5*8 + n6*4 + n7*2 + n8)
        |   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_ewma
        | FROM el WHERE h8 = h - 8),
        |sd AS (SELECT h, n, h % 24 AS hod FROM hh),
        |sp AS (SELECT hod, sum(n) AS total, count(*) AS d FROM sd GROUP BY 1),
        |sz AS (SELECT CAST(coalesce(sum(CASE
        |    WHEN sd.n * (d - 1) > 2 * (total - sd.n) THEN 1 ELSE 0 END), 0)
        |   AS BIGINT) AS n_seasonal
        | FROM sd JOIN sp ON sd.hod = sp.hod WHERE d >= 2),
        |ap AS (SELECT l.lag, a.n AS x, b.n AS y
        | FROM hh a CROSS JOIN (SELECT unnest(range(1, 25)) AS lag) l
        | JOIN hh b ON b.h = a.h + l.lag),
        |am AS (SELECT lag, count(*) AS n_pairs,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy FROM ap GROUP BY 1),
        |ar AS (SELECT lag,
        | CASE WHEN CAST(n_pairs AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx <= 0
        |    OR CAST(n_pairs AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy <= 0
        |  THEN NULL
        |  ELSE round(CAST(CAST(n_pairs AS HUGEINT) * sxy
        |     - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |   / (sqrt(CAST(CAST(n_pairs AS HUGEINT) * sxx
        |       - CAST(sx AS HUGEINT) * sx AS DOUBLE))
        |      * sqrt(CAST(CAST(n_pairs AS HUGEINT) * syy
        |       - CAST(sy AS HUGEINT) * sy AS DOUBLE))), 4) END AS r
        | FROM am),
        |rec AS (SELECT CASE
        |  WHEN max(CASE WHEN lag = 24 THEN r END) IS NOT NULL
        |   AND max(CASE WHEN lag = 24 THEN r END) >= 0.5
        |   AND max(CASE WHEN lag = 24 THEN r END) >= max(r) THEN 'seasonal'
        |  WHEN max(CASE WHEN lag = 1 THEN r END) >= 0.3 THEN 'ewma'
        |  ELSE 'flat' END AS recommended FROM ar)
        |SELECT rec.recommended, f.n_flat AS n_spikes_flat,
        | e.n_ewma AS n_spikes_ewma, sz.n_seasonal AS n_spikes_seasonal,
        | CASE rec.recommended WHEN 'flat' THEN f.n_flat
        |  WHEN 'ewma' THEN e.n_ewma ELSE sz.n_seasonal END AS n_spikes_chosen
        |FROM rec, f, e, sz""".stripMargin,
    // q201: exact AllPairs at the loosest threshold (q21's CTEs at
    // 0.3), then every tighter threshold's counts from that one pair
    // set via a 7-row threshold join.
    "q201_dedup_threshold_sweep" ->
      s"""WITH $shinglesCte,
        |e AS (SELECT doc_id, unnest(sh) AS s FROM t),
        |c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |z AS (SELECT doc_id, len(sh) AS n FROM t),
        |p AS (SELECT d1, d2,
        |  CAST(common AS DOUBLE)/(za.n + zb.n - common) AS j
        | FROM c JOIN z za ON d1 = za.doc_id JOIN z zb ON d2 = zb.doc_id
        | WHERE CAST(common AS DOUBLE)/(za.n + zb.n - common) >= 0.3),
        |th AS (SELECT unnest(range(3, 10)) AS i),
        |pp AS (SELECT i, count(*) AS n_pairs
        | FROM th JOIN p ON p.j >= i / 10.0 GROUP BY 1),
        |dd AS (SELECT i, count(DISTINCT d) AS n_docs_hit FROM
        |  (SELECT i, unnest([d1, d2]) AS d FROM th JOIN p ON p.j >= i / 10.0)
        | GROUP BY 1),
        |nd AS (SELECT count(*) AS nd FROM documents)
        |SELECT CAST(i * 100000 AS BIGINT) AS threshold_ppm,
        | CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
        | CAST(coalesce(n_docs_hit, 0) AS BIGINT) AS n_docs_hit,
        | CAST(coalesce(n_docs_hit, 0) * 1000000 // nd.nd AS BIGINT)
        |   AS hit_frac_ppm
        |FROM th LEFT JOIN pp USING (i) LEFT JOIN dd USING (i)
        |CROSS JOIN nd""".stripMargin,
    // q202: sqrt-composition temperature weights (bit-stable — no
    // libm pow), quantized to integer milli-units so the normalizing
    // sum is order-insensitive integer arithmetic.
    "q202_mixture_temperature" ->
      """WITH per AS (SELECT source,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        | FROM documents GROUP BY 1),
        |a AS (SELECT unnest([25, 50, 75, 100]) AS alpha_pct),
        |w AS (SELECT alpha_pct, source, n_tokens,
        |  CAST(round(CASE alpha_pct
        |    WHEN 25 THEN sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
        |    WHEN 50 THEN sqrt(CAST(n_tokens AS DOUBLE))
        |    WHEN 75 THEN sqrt(CAST(n_tokens AS DOUBLE)
        |      * sqrt(CAST(n_tokens AS DOUBLE)))
        |    ELSE CAST(n_tokens AS DOUBLE) END * 1000) AS BIGINT) AS wq
        | FROM per CROSS JOIN a),
        |t2 AS (SELECT alpha_pct, CAST(sum(wq) AS BIGINT) AS tw
        | FROM w GROUP BY 1)
        |SELECT CAST(w.alpha_pct AS BIGINT) AS alpha_pct, source, n_tokens,
        | CAST(CAST(wq AS HUGEINT) * 1000000 // tw AS BIGINT) AS weight_ppm
        |FROM w JOIN t2 USING (alpha_pct)""".stripMargin,
    // q203: one distinct (user, day) pass, offset fan-out to the
    // trailing 7/30-day report days, countDistinct per day; report
    // days restricted to observed activity days.
    "q203_active_users" ->
      """WITH pairs AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 86400000000 AS day FROM events),
        |b AS (SELECT min(day) AS mnd, max(day) AS mxd FROM pairs),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau
        | FROM pairs GROUP BY 1),
        |wau AS (SELECT day + o AS day, count(DISTINCT user_id) AS wau
        | FROM pairs CROSS JOIN (SELECT unnest(range(0, 7)) AS o) GROUP BY 1),
        |mau AS (SELECT day + o AS day, count(DISTINCT user_id) AS mau
        | FROM pairs CROSS JOIN (SELECT unnest(range(0, 30)) AS o) GROUP BY 1)
        |SELECT CAST(dau.day AS BIGINT) AS day, CAST(dau AS BIGINT) AS dau,
        | CAST(wau AS BIGINT) AS wau, CAST(mau AS BIGINT) AS mau,
        | CAST(dau * 1000000 // wau AS BIGINT) AS stickiness_ppm,
        | dau.day >= b.mnd + 29 AS full_window
        |FROM dau JOIN wau USING (day) JOIN mau USING (day) CROSS JOIN b
        |WHERE dau.day <= b.mxd""".stripMargin,
    // q204: q28's score in integer ppm bins per source, cumulative +
    // ceil-rank crossing on the bounded bin table (the q97/q164
    // pattern); estimate = bin upper edge.
    "q204_source_quality_calibration" ->
      """WITH ql AS (SELECT source,
        |  CAST(round(((CAST(len(list_distinct(string_split(text, ' ')))
        |       AS DOUBLE) / len(string_split(text, ' '))) * 0.5
        |    + (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |       x -> x IN ('the', 'a'))) AS DOUBLE)
        |      / len(string_split(text, ' '))) * 0.5) * 1000000)
        |   AS BIGINT) // 10000 AS bin
        | FROM documents),
        |b AS (SELECT source, bin, count(*) AS cnt FROM ql GROUP BY 1, 2),
        |c AS (SELECT source, bin, cnt, sum(cnt) OVER
        |  (PARTITION BY source ORDER BY bin
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM b),
        |n AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM b GROUP BY 1),
        |p AS (SELECT * FROM (VALUES ('p10', 10), ('p50', 50), ('p90', 90))
        |  AS v(q_label, q))
        |SELECT c.source, q_label, n.n,
        | CAST((c.bin + 1) * 10000 - 1 AS BIGINT) AS est_ppm
        |FROM p CROSS JOIN n JOIN c ON c.source = n.source
        |WHERE cum >= (q * n.n + 99) // 100
        |  AND cum - cnt < (q * n.n + 99) // 100""".stripMargin,
    // q205: every same-table rule shares one conditional-agg scan;
    // one report row per rule.
    "q205_constraint_checks" ->
      """WITH l AS (SELECT count(*) AS n,
        |  sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v_nn,
        |  sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |    THEN 1 ELSE 0 END) AS v_qty,
        |  sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
        |    THEN 1 ELSE 0 END) AS v_disc,
        |  count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS v_uniq
        | FROM lineitem),
        |o AS (SELECT count(*) AS n,
        |  sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS v_nn,
        |  sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
        |    THEN 1 ELSE 0 END) AS v_status
        | FROM orders)
        |SELECT 'not_null:l_orderkey' AS rule, 'lineitem' AS table_name,
        |  CAST(n AS BIGINT) AS n_checked, CAST(v_nn AS BIGINT) AS n_violations,
        |  v_nn = 0 AS pass FROM l
        |UNION ALL SELECT 'range:l_quantity:1-50', 'lineitem',
        |  CAST(n AS BIGINT), CAST(v_qty AS BIGINT), v_qty = 0 FROM l
        |UNION ALL SELECT 'range:l_discount:0-0.1', 'lineitem',
        |  CAST(n AS BIGINT), CAST(v_disc AS BIGINT), v_disc = 0 FROM l
        |UNION ALL SELECT 'unique:l_orderkey+l_linenumber', 'lineitem',
        |  CAST(n AS BIGINT), CAST(v_uniq AS BIGINT), v_uniq = 0 FROM l
        |UNION ALL SELECT 'not_null:o_orderdate', 'orders',
        |  CAST(n AS BIGINT), CAST(v_nn AS BIGINT), v_nn = 0 FROM o
        |UNION ALL SELECT 'accepted:o_orderstatus', 'orders',
        |  CAST(n AS BIGINT), CAST(v_status AS BIGINT), v_status = 0 FROM o""".stripMargin,
    // q206: per-user (first, last) day spans; each user enters the
    // at-risk set only for horizons the data can observe.
    "q206_survival_curve" ->
      """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        | FROM events),
        |sp AS (SELECT user_id, min(day) AS f, max(day) AS l
        | FROM d GROUP BY 1),
        |m AS (SELECT max(l) AS mxd FROM sp),
        |g AS (SELECT l - f AS life, unnest(range(0, mxd - f + 1)) AS k
        | FROM sp, m)
        |SELECT CAST(k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_at_risk,
        | CAST(sum(CASE WHEN life >= k THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_survived,
        | CAST(sum(CASE WHEN life >= k THEN 1 ELSE 0 END) * 1000000
        |   // count(*) AS BIGINT) AS survival_ppm
        |FROM g GROUP BY 1""".stripMargin,
    // q207: the fixed 6-round peel unrolled as chained CTEs — each
    // round drops nodes with degree < 2 and the edges touching them;
    // the converged flag reports fixpoint status. Every chain CTE is
    // MATERIALIZED: inlining would re-expand the banding pipeline
    // per reference (3 refs/round → 3^6 rescans of the parquet).
    "q207_kcore" -> {
      val peel = (1 to 6).map { i =>
        s"""s$i AS MATERIALIZED (SELECT a FROM (SELECT a, count(*) AS deg
           |  FROM e${i - 1} GROUP BY 1) WHERE deg >= 2),
           |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
           | JOIN s$i x ON e.a = x.a JOIN s$i y ON e.b = y.a)""".stripMargin
      }.mkString(",\n")
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |c AS MATERIALIZED (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |e0 AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM c
        | UNION ALL SELECT d2, d1 FROM c),
        |$peel,
        |f AS (SELECT a AS doc_id, count(*) AS core_degree FROM e6 GROUP BY 1),
        |cv AS (SELECT coalesce(min(core_degree) >= 2, true) AS converged
        | FROM f)
        |SELECT doc_id, CAST(core_degree AS BIGINT) AS core_degree, converged
        |FROM f CROSS JOIN cv""".stripMargin
    },
    // q208: the streaming dedup→agg pipeline's final state must
    // equal the batch distinct count per day.
    "q208_stream_active_users" ->
      """SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |FROM events GROUP BY 1""".stripMargin,
    // q209: per-user conditional stage times, cohort rollup, ppm
    // rates; conversion requires purchase at/after the first view.
    "q209_cohort_funnel" ->
      """WITH per AS (SELECT user_id,
        |  min(epoch_us(ts) // 604800000000) AS cohort_week,
        |  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS fv,
        |  max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS lp
        | FROM events GROUP BY 1)
        |SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
        | CAST(count(*) AS BIGINT) AS n_users,
        | CAST(sum(CASE WHEN fv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_viewed,
        | CAST(sum(CASE WHEN fv IS NOT NULL AND lp IS NOT NULL AND lp >= fv
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        | CAST(sum(CASE WHEN fv IS NOT NULL THEN 1 ELSE 0 END) * 1000000
        |   // count(*) AS BIGINT) AS viewed_ppm,
        | CAST(sum(CASE WHEN fv IS NOT NULL AND lp IS NOT NULL AND lp >= fv
        |   THEN 1 ELSE 0 END) * 1000000
        |   // greatest(sum(CASE WHEN fv IS NOT NULL THEN 1 ELSE 0 END), 1)
        |   AS BIGINT) AS conv_ppm
        |FROM per GROUP BY 1""".stripMargin,
    // q210: engine-portable regex subset (character classes +
    // counted repetition only); hit counts via regexp_extract_all.
    "q210_pii_scan" ->
      """WITH h AS (SELECT source,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
        |  len(regexp_extract_all(text,
        |    '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}')) AS p,
        |  len(regexp_extract_all(text, '[0-9]{9,}')) AS i
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(e) AS BIGINT) AS n_email_hits,
        | CAST(sum(p) AS BIGINT) AS n_phone_hits,
        | CAST(sum(i) AS BIGINT) AS n_longid_hits,
        | CAST(sum(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_docs_flagged,
        | CAST(sum(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) * 1000000
        |   // count(*) AS BIGINT) AS flagged_ppm
        |FROM h GROUP BY 1""".stripMargin,
    // q211: q29's scoring + argmax, rolled into confusion cells with
    // each cell's share of its true language.
    "q211_lang_confusion" ->
      """WITH b AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
        |sc AS (SELECT lang,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und'))) AS s_de,
        |  len(list_filter(toks, x -> x IN ('le','la','les','et'))) AS s_fr,
        |  len(list_filter(toks, x -> x IN ('el','los','las','y'))) AS s_es
        | FROM b),
        |pr AS (SELECT lang,
        |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang
        | FROM sc),
        |cells AS (SELECT lang, pred_lang, count(*) AS n FROM pr GROUP BY 1, 2),
        |tot AS (SELECT lang, count(*) AS n_true FROM pr GROUP BY 1)
        |SELECT cells.lang, pred_lang, CAST(n AS BIGINT) AS n,
        | CAST(n_true AS BIGINT) AS n_true,
        | CAST(n * 1000000 // n_true AS BIGINT) AS cell_ppm
        |FROM cells JOIN tot ON cells.lang = tot.lang""".stripMargin,
    // q212: latest state materialized from (snapshot ∪ surviving WAL)
    // after retention truncation; the oracle recomputes q12 from the
    // raw events — the gate proves truncation lost nothing.
    "q212_wal_retention" ->
      """SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts FROM (
        | SELECT user_id, event_id, event_type, value, ts,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn = 1""".stripMargin,
    "q213_benford_audit" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(round(l_extendedprice*100)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM lineitem WHERE round(l_extendedprice*100) > 0),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT sum(n) AS n_total FROM c),
        |e AS (SELECT * FROM (VALUES (1,301030),(2,176091),(3,124939),
        |  (4,96910),(5,79181),(6,66947),(7,57992),(8,51153),(9,45757))
        |  AS e(digit, benford_ppm))
        |SELECT c.digit, CAST(n AS BIGINT) AS n,
        | CAST(n * 1000000 // n_total AS BIGINT) AS obs_ppm,
        | CAST(benford_ppm AS BIGINT) AS benford_ppm,
        | CAST((n * 1000000 // n_total - benford_ppm) *
        |      (n * 1000000 // n_total - benford_ppm) // benford_ppm AS BIGINT)
        |   AS chi2_contrib_ppm
        |FROM c CROSS JOIN t JOIN e ON c.digit = e.digit""".stripMargin,
    "q214_rater_agreement" ->
      """WITH b AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
        |sc AS (SELECT lang,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und'))) AS s_de,
        |  len(list_filter(toks, x -> x IN ('le','la','les','et'))) AS s_fr,
        |  len(list_filter(toks, x -> x IN ('el','los','las','y'))) AS s_es
        | FROM b),
        |pr AS (SELECT lang,
        |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang
        | FROM sc),
        |cells AS (SELECT lang, pred_lang, count(*) AS n FROM pr GROUP BY 1, 2),
        |agg AS (SELECT sum(n) AS n_docs,
        |  sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS n_agree
        | FROM cells),
        |rm AS (SELECT lang, sum(n) AS n_row FROM cells GROUP BY 1),
        |cm AS (SELECT pred_lang, sum(n) AS n_col FROM cells GROUP BY 1),
        |pe AS (SELECT sum(CAST(n_row AS HUGEINT) * n_col) AS pe_num
        | FROM rm JOIN cm ON rm.lang = cm.pred_lang),
        |r AS (SELECT CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_agree AS BIGINT) AS n_agree,
        |  CAST(n_agree * 1000000 // n_docs AS BIGINT) AS po_ppm,
        |  CAST(pe_num * 1000000 // (CAST(n_docs AS HUGEINT) * n_docs)
        |    AS BIGINT) AS pe_ppm
        | FROM agg CROSS JOIN pe)
        |SELECT n_docs, n_agree, po_ppm, pe_ppm,
        | CAST((po_ppm - pe_ppm) * 1000000 // nullif(1000000 - pe_ppm, 0)
        |   AS BIGINT) AS kappa_ppm
        |FROM r""".stripMargin,
    "q215_readability" ->
      """WITH p AS (SELECT lang, source,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS words,
        |  greatest(CAST(len(regexp_extract_all(text,'[.!?]+')) AS BIGINT), 1)
        |    AS sents,
        |  CAST(len(regexp_extract_all(lower(text),'[aeiou]+')) AS BIGINT)
        |    AS sylls
        | FROM documents),
        |d AS (SELECT lang, source, words, sents, sylls,
        |  206835 - (1015 * (words * 1000 // sents)) // 1000
        |         - (84600 * (sylls * 1000 // greatest(words,1))) // 1000
        |    AS score_milli
        | FROM p)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(words) * 1000 // sum(sents) AS BIGINT) AS wps_milli,
        | CAST(sum(sylls) * 1000 // sum(words) AS BIGINT) AS spw_milli,
        | CAST(sum(CASE WHEN score_milli < 30000 THEN 1 ELSE 0 END) * 1000000
        |      // count(*) AS BIGINT) AS hard_ppm
        |FROM d GROUP BY 1, 2""".stripMargin,
    "q216_tokenizer_fertility" ->
      """WITH p AS (SELECT lang,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS words,
        |  CAST(len(regexp_extract_all(text,'[A-Za-z0-9]+|[^A-Za-z0-9 ]'))
        |    AS BIGINT) AS re_toks,
        |  CAST(length(text) AS BIGINT) AS chars
        | FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(words) AS BIGINT) AS n_words,
        | CAST(sum(re_toks) AS BIGINT) AS n_tokens,
        | CAST(sum(chars) AS BIGINT) AS n_chars,
        | CAST(sum(re_toks) * 1000 // sum(words) AS BIGINT) AS fertility_milli,
        | CAST(sum(chars) * 1000 // sum(re_toks) AS BIGINT)
        |   AS chars_per_tok_milli
        |FROM p GROUP BY 1""".stripMargin,
    "q217_chunk_manifest" ->
      """WITH b AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM b),
        |c AS (SELECT doc_id, toks, n, unnest(range(0,
        |   1 + CASE WHEN n > 128 THEN (n - 128 + 95) // 96 ELSE 0 END))
        |   AS chunk_id FROM n)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        | CAST(chunk_id * 96 AS BIGINT) AS tok_start,
        | CAST(least(128, n - chunk_id * 96) AS BIGINT) AS n_toks,
        | md5(array_to_string(toks[CAST(chunk_id * 96 + 1 AS INTEGER) :
        |   CAST(chunk_id * 96 + least(128, n - chunk_id * 96) AS INTEGER)],
        |   ' ')) AS chunk_hash
        |FROM c""".stripMargin,
    "q218_pq_recall" ->
      s"""WITH $quantCte,
        |corpus AS (SELECT vec_id, v FROM m WHERE vec_id >= 5),
        |qs AS (SELECT vec_id, v FROM m WHERE vec_id < 5),
        |subs AS (SELECT unnest(range(4)) AS sub),
        |seedrank AS (SELECT vec_id,
        |  ${hex8Sql("concat('pqseed|', vec_id)")} AS hb FROM corpus),
        |seeds AS (SELECT CAST(row_number() OVER (ORDER BY hb, vec_id) - 1
        |   AS BIGINT) AS seed_id, vec_id
        |  FROM seedrank ORDER BY hb, vec_id LIMIT 16),
        |seedsubs AS (SELECT s.seed_id, t.sub,
        |  m.v[CAST(t.sub*16+1 AS INTEGER) : CAST(t.sub*16+16 AS INTEGER)] AS sv
        |  FROM seeds s JOIN m ON m.vec_id = s.vec_id CROSS JOIN subs t),
        |corpussubs AS (SELECT c.vec_id, t.sub,
        |  c.v[CAST(t.sub*16+1 AS INTEGER) : CAST(t.sub*16+16 AS INTEGER)] AS vv
        |  FROM corpus c CROSS JOIN subs t),
        |enc AS (SELECT vec_id, sub, seed_id,
        |  CAST(list_sum(list_transform(range(16),
        |    i -> (vv[i+1]-sv[i+1])*(vv[i+1]-sv[i+1]))) AS BIGINT) AS d
        |  FROM corpussubs JOIN seedsubs USING (sub)),
        |dmin AS (SELECT vec_id, sub, min(d) AS dm FROM enc GROUP BY 1, 2),
        |codes AS (SELECT e.vec_id, e.sub, min(e.seed_id) AS code
        |  FROM enc e JOIN dmin ON e.vec_id = dmin.vec_id AND e.sub = dmin.sub
        |   AND e.d = dmin.dm GROUP BY 1, 2),
        |qsubs AS (SELECT q.vec_id AS query_id, t.sub,
        |  q.v[CAST(t.sub*16+1 AS INTEGER) : CAST(t.sub*16+16 AS INTEGER)] AS qv
        |  FROM qs q CROSS JOIN subs t),
        |qtab AS (SELECT query_id, sub, seed_id AS code,
        |  CAST(list_sum(list_transform(range(16),
        |    i -> (qv[i+1]-sv[i+1])*(qv[i+1]-sv[i+1]))) AS BIGINT) AS qd
        |  FROM qsubs JOIN seedsubs USING (sub)),
        |adist AS (SELECT query_id, vec_id, sum(qd) AS ad
        |  FROM codes JOIN qtab USING (sub, code) GROUP BY 1, 2),
        |atop AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
        |   row_number() OVER (PARTITION BY query_id ORDER BY ad, vec_id)
        |    AS rn FROM adist) t WHERE rn <= 10),
        |ex AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  CAST(list_sum(list_transform(range(64),
        |    i -> (q.v[i+1]-c.v[i+1])*(q.v[i+1]-c.v[i+1]))) AS BIGINT) AS d
        |  FROM qs q CROSS JOIN corpus c),
        |etop AS (SELECT query_id, neighbor_id FROM (SELECT query_id,
        |   neighbor_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY d, neighbor_id) AS rn FROM ex) t WHERE rn <= 10)
        |SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
        | CAST(count(a.vec_id) AS BIGINT) AS n_hits,
        | CAST(count(a.vec_id) * 1000000 // count(*) AS BIGINT) AS recall_ppm
        |FROM etop e LEFT JOIN atop a
        | ON e.query_id = a.query_id AND e.neighbor_id = a.vec_id
        |GROUP BY 1""".stripMargin,
    "q219_dup_drift" ->
      """WITH bounds AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx
        |  FROM documents),
        |h AS (SELECT md5(text) AS h,
        |  least(9, (doc_id - mn) * 10 // (mx - mn + 1)) AS bucket
        | FROM documents CROSS JOIN bounds),
        |phb AS (SELECT h, bucket, count(*) AS n FROM h GROUP BY 1, 2),
        |fb AS (SELECT h, min(bucket) AS first_bucket FROM phb GROUP BY 1)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        | CAST(sum(n) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN bucket > first_bucket THEN n ELSE 0 END)
        |   AS BIGINT) AS n_incoming_dup,
        | CAST(sum(CASE WHEN bucket = first_bucket THEN n - 1 ELSE 0 END)
        |   AS BIGINT) AS n_within_dup,
        | CAST(sum(CASE WHEN bucket > first_bucket THEN n ELSE 0 END)
        |   * 1000000 // sum(n) AS BIGINT) AS incoming_ppm,
        | CAST(sum(CASE WHEN bucket = first_bucket THEN n - 1 ELSE 0 END)
        |   * 1000000 // sum(n) AS BIGINT) AS within_ppm
        |FROM phb JOIN fb USING (h) GROUP BY 1""".stripMargin,
    "q220_ngram_novelty" ->
      s"""WITH b AS (SELECT doc_id, lang, string_split(text,' ') AS toks
        |  FROM documents),
        |g0 AS (SELECT doc_id, lang, toks, len(toks) AS nt FROM b
        |  WHERE len(toks) >= 5),
        |g AS (SELECT doc_id, lang, unnest(list_distinct(list_transform(
        |   range(1, nt - 3), i -> md5(array_to_string(toks[i:i+4], ' ')))))
        |   AS g FROM g0),
        |spl AS (SELECT doc_id, lang, g,
        |  (${hex8Sql("concat('novel|', doc_id)")} < 2147483648) AS is_train
        | FROM g),
        |tr AS (SELECT DISTINCT g FROM spl WHERE is_train),
        |te AS (SELECT doc_id, lang, g FROM spl WHERE NOT is_train)
        |SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_shingles,
        | CAST(sum(CASE WHEN tr.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_novel,
        | CAST(sum(CASE WHEN tr.g IS NULL THEN 1 ELSE 0 END) * 1000000
        |   // count(*) AS BIGINT) AS novelty_ppm
        |FROM te LEFT JOIN tr ON te.g = tr.g GROUP BY 1, 2""".stripMargin,
    // q221: final streaming quota state ≡ the batch row_number-by-seq
    // admission; admitted_seq_sum pins set MEMBERSHIP, not just counts.
    "q221_stream_quota" ->
      """WITH e AS (SELECT event_id AS seq, user_id,
        |  epoch_us(ts) // 3600000000 AS hour FROM events),
        |r AS (SELECT user_id, hour, seq, row_number() OVER (
        |   PARTITION BY user_id, hour ORDER BY seq) AS rn FROM e),
        |pu AS (SELECT user_id, hour, count(*) AS n,
        |  sum(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS adm,
        |  sum(CASE WHEN rn <= 5 THEN seq ELSE 0 END) AS sseq
        | FROM r GROUP BY 1, 2)
        |SELECT CAST(hour AS BIGINT) AS hour,
        | CAST(sum(n) AS BIGINT) AS n_events,
        | CAST(sum(adm) AS BIGINT) AS n_admitted,
        | CAST(sum(n) - sum(adm) AS BIGINT) AS n_rejected,
        | CAST(sum(CASE WHEN n > 5 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_capped_users,
        | CAST(sum(sseq) AS BIGINT) AS admitted_seq_sum
        |FROM pu GROUP BY 1""".stripMargin,
    "q222_category_drift" ->
      """WITH oldv AS (SELECT lang, source FROM documents WHERE doc_id % 11 <> 0),
        |newv AS (SELECT lang, source FROM documents WHERE doc_id % 13 <> 0),
        |olde AS (SELECT 'lang' AS column_name, lang AS value FROM oldv
        |  UNION ALL SELECT 'source', source FROM oldv),
        |newe AS (SELECT 'lang' AS column_name, lang AS value FROM newv
        |  UNION ALL SELECT 'source', source FROM newv),
        |oc AS (SELECT column_name, value, count(*) AS n FROM olde GROUP BY 1,2),
        |ot AS (SELECT column_name, sum(n) AS nt, max(n) AS nmax,
        |   count(*) AS ndv FROM oc GROUP BY 1),
        |op AS (SELECT oc.column_name, value, n * 1000000 // nt AS share_old,
        |   ndv AS ndv_old, (n = nmax) AS is_top_old
        |  FROM oc JOIN ot ON oc.column_name = ot.column_name),
        |nc AS (SELECT column_name, value, count(*) AS n FROM newe GROUP BY 1,2),
        |nt AS (SELECT column_name, sum(n) AS nt, max(n) AS nmax,
        |   count(*) AS ndv FROM nc GROUP BY 1),
        |np AS (SELECT nc.column_name, value, n * 1000000 // nt AS share_new,
        |   ndv AS ndv_new, (n = nmax) AS is_top_new
        |  FROM nc JOIN nt ON nc.column_name = nt.column_name),
        |j AS (SELECT coalesce(op.column_name, np.column_name) AS column_name,
        |   coalesce(op.value, np.value) AS value, share_old, ndv_old,
        |   is_top_old, share_new, ndv_new, is_top_new
        |  FROM op FULL OUTER JOIN np
        |   ON op.column_name = np.column_name AND op.value = np.value)
        |SELECT column_name,
        | CAST(max(ndv_old) AS BIGINT) AS ndv_old,
        | CAST(max(ndv_new) AS BIGINT) AS ndv_new,
        | CAST(sum(abs(coalesce(share_old, 0) - coalesce(share_new, 0))) // 2
        |   AS BIGINT) AS tvd_ppm,
        | min(CASE WHEN is_top_old THEN value END) AS top_old,
        | min(CASE WHEN is_top_new THEN value END) AS top_new,
        | CAST(max(CASE WHEN is_top_old THEN share_old END) AS BIGINT)
        |   AS top_share_old_ppm,
        | CAST(max(CASE WHEN is_top_new THEN share_new END) AS BIGINT)
        |   AS top_share_new_ppm
        |FROM j GROUP BY 1""".stripMargin,
    "q223_edge_cohesion" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM c
        | UNION ALL SELECT d2, d1 FROM c),
        |deg AS (SELECT v, count(*) AS degree FROM adj GROUP BY 1),
        |cm AS (SELECT c.d1, c.d2, count(*) AS n_common
        | FROM c JOIN adj a1 ON a1.v = c.d1
        |  JOIN adj a2 ON a2.v = c.d2 AND a2.u = a1.u
        | GROUP BY 1, 2)
        |SELECT c.d1, c.d2,
        | CAST(g1.degree AS BIGINT) AS deg1, CAST(g2.degree AS BIGINT) AS deg2,
        | CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
        | CAST(coalesce(n_common, 0) * 1000000 // nullif(
        |   g1.degree + g2.degree - 2 - coalesce(n_common, 0), 0) AS BIGINT)
        |   AS cohesion_ppm,
        | (coalesce(n_common, 0) = 0) AS is_local_bridge
        |FROM c JOIN deg g1 ON g1.v = c.d1 JOIN deg g2 ON g2.v = c.d2
        | LEFT JOIN cm ON cm.d1 = c.d1 AND cm.d2 = c.d2""".stripMargin,
    "q224_mmr_diversify" -> mmrOracle(5),
    "q225_scene_cuts" ->
      s"""WITH f AS (SELECT doc_id, text,
        |  LEAST(CAST(ceil(length(text) / 64.0) AS BIGINT), 8) AS n_frames
        | FROM documents WHERE length(text) > 0),
        |x AS (SELECT doc_id, text, n_frames,
        |  unnest(range(n_frames)) AS frame_idx FROM f),
        |fr AS (SELECT doc_id, n_frames, frame_idx,
        |  ${hexIntSql("substr(sha256(substr(text, CAST(frame_idx * 64 + 1 AS INTEGER), 64)), 1, 8)")}
        |    AS fv FROM x),
        |lg AS (SELECT doc_id, n_frames, fv, lag(fv) OVER (
        |   PARTITION BY doc_id ORDER BY frame_idx) AS prev FROM fr),
        |hm AS (SELECT doc_id, n_frames,
        |  CASE WHEN prev IS NULL THEN NULL
        |   ELSE CAST(bit_count(xor(fv, prev)) AS BIGINT) END AS ham FROM lg)
        |SELECT doc_id, CAST(max(n_frames) AS BIGINT) AS n_frames,
        | CAST(count(ham) AS BIGINT) AS n_transitions,
        | CAST(sum(CASE WHEN ham >= 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        | CAST(sum(coalesce(ham, 0)) * 1000 // nullif(count(ham), 0) AS BIGINT)
        |   AS mean_ham_milli
        |FROM hm GROUP BY doc_id""".stripMargin,
    "q226_bounce_rate" ->
      """WITH sa AS (SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |se AS (SELECT user_id, tsu, sum(new_s) OVER (
        |   PARTITION BY user_id ORDER BY tsu, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM sa),
        |ps AS (SELECT user_id, session_id, count(*) AS n_ev,
        |   min(tsu) AS start_ts FROM se GROUP BY 1, 2),
        |d AS (SELECT start_ts // 86400000000 AS day, n_ev FROM ps)
        |SELECT CAST(day AS BIGINT) AS day,
        | CAST(count(*) AS BIGINT) AS n_sessions,
        | CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
        | CAST(sum(n_ev) AS BIGINT) AS n_events,
        | CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
        |   AS BIGINT) AS bounce_ppm,
        | CAST(sum(n_ev) * 1000 // count(*) AS BIGINT) AS depth_milli
        |FROM d GROUP BY 1""".stripMargin,
    "q227_char_entropy" ->
      """WITH ch AS (SELECT source, unnest(list_transform(
        |   range(1, length(text) + 1),
        |   i -> substr(text, CAST(i AS INTEGER), 1))) AS ch
        | FROM documents WHERE length(text) > 0),
        |ct AS (SELECT source, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_chars,
        |  CAST(count(*) AS BIGINT) AS n_distinct_chars,
        |  sum(c * log2(c)) AS slc FROM ct GROUP BY 1)
        |SELECT source, n_chars, n_distinct_chars,
        | round(log2(n_chars) - slc / n_chars, 4) AS entropy_bits,
        | round((log2(n_chars) - slc / n_chars) / 8, 4)
        |   AS est_compression_ratio
        |FROM a""".stripMargin,
    "q228_cohort_ltv" ->
      """WITH pu AS (SELECT user_id,
        |  min(epoch_us(ts) // 604800000000) AS cohort_week
        | FROM events GROUP BY 1),
        |cs AS (SELECT cohort_week, count(*) AS n_cohort_users
        | FROM pu GROUP BY 1),
        |cells AS (SELECT pu.cohort_week,
        |  epoch_us(e.ts) // 604800000000 - pu.cohort_week AS age_week,
        |  count(DISTINCT e.user_id) AS n_active,
        |  sum(CASE WHEN e.event_type = 'purchase'
        |    THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END) AS rev_cents
        | FROM events e JOIN pu ON e.user_id = pu.user_id GROUP BY 1, 2),
        |cum AS (SELECT cohort_week, age_week, n_active, rev_cents,
        |  sum(rev_cents) OVER (PARTITION BY cohort_week ORDER BY age_week
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev_cents
        | FROM cells)
        |SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
        | CAST(age_week AS BIGINT) AS age_week,
        | CAST(n_active AS BIGINT) AS n_active,
        | CAST(n_cohort_users AS BIGINT) AS n_cohort_users,
        | CAST(rev_cents AS BIGINT) AS rev_cents,
        | CAST(cum_rev_cents AS BIGINT) AS cum_rev_cents,
        | CAST(cum_rev_cents * 1000 // n_cohort_users AS BIGINT)
        |   AS ltv_millicents
        |FROM cum JOIN cs USING (cohort_week)""".stripMargin,
    "q229_seasonal_profile" ->
      """WITH c AS (SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |  (epoch_us(ts) // 3600000000) % 24 AS hod, count(*) AS n
        | FROM events GROUP BY 1, 2),
        |grid AS (SELECT d.dow, h.hod FROM
        |  (SELECT unnest(range(7)) AS dow) d,
        |  (SELECT unnest(range(24)) AS hod) h),
        |t AS (SELECT sum(n) AS n_total FROM c)
        |SELECT CAST(grid.dow AS BIGINT) AS dow,
        | CAST(grid.hod AS BIGINT) AS hod,
        | CAST(coalesce(c.n, 0) AS BIGINT) AS n,
        | CAST(coalesce(c.n, 0) * 1000000 // n_total AS BIGINT) AS share_ppm,
        | (coalesce(c.n, 0) * 168 > n_total * 2) AS peak
        |FROM grid LEFT JOIN c ON grid.dow = c.dow AND grid.hod = c.hod
        | CROSS JOIN t""".stripMargin,
    // q230: final streaming SCD2 history ≡ the q70 batch intervals
    "q230_stream_scd2" ->
      """SELECT user_id, event_id, event_type, value,
        | epoch_us(ts) AS valid_from,
        | lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id) AS valid_to
        |FROM events""".stripMargin,
    "q231_group_quantile_bands" ->
      """WITH b AS (SELECT event_type,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |t AS (SELECT event_type, count(*) AS n FROM b GROUP BY 1),
        |qs AS (SELECT * FROM (VALUES ('p50', 0.5), ('p95', 0.95),
        |  ('p99', 0.99)) AS q(q_label, q)),
        |tg AS (SELECT event_type, q_label, CAST(n AS BIGINT) AS n,
        |  CAST(ceil(CAST(q AS DOUBLE) * n) AS BIGINT) AS rnk FROM t, qs),
        |r AS (SELECT event_type, vc, row_number() OVER (
        |   PARTITION BY event_type ORDER BY vc) AS rn FROM b)
        |SELECT tg.event_type, q_label, n,
        | CAST((vc // 100) * 100 + 99 AS BIGINT) AS est_cents,
        | CAST(vc AS BIGINT) AS exact_cents
        |FROM tg JOIN r ON r.event_type = tg.event_type AND r.rn = tg.rnk"""
        .stripMargin,
    "q232_code_switch" ->
      """WITH b AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |  FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und'))) AS s_de,
        |  len(list_filter(toks, x -> x IN ('le','la','les','et'))) AS s_fr,
        |  len(list_filter(toks, x -> x IN ('el','los','las','y'))) AS s_es
        | FROM b),
        |up AS (
        | SELECT doc_id, lang, 'en' AS l, s_en AS sc FROM sc
        | UNION ALL SELECT doc_id, lang, 'de', s_de FROM sc
        | UNION ALL SELECT doc_id, lang, 'fr', s_fr FROM sc
        | UNION ALL SELECT doc_id, lang, 'es', s_es FROM sc),
        |rk AS (SELECT doc_id, lang, l, sc, row_number() OVER (
        |   PARTITION BY doc_id ORDER BY sc DESC, l) AS rn FROM up)
        |SELECT doc_id, lang,
        | min(CASE WHEN rn = 1 THEN l END) AS top_lang,
        | CAST(max(CASE WHEN rn = 1 THEN sc END) AS BIGINT) AS s_top,
        | min(CASE WHEN rn = 2 THEN l END) AS second_lang,
        | CAST(max(CASE WHEN rn = 2 THEN sc END) AS BIGINT) AS s_second,
        | (max(CASE WHEN rn = 2 THEN sc END) * 10 >=
        |    max(CASE WHEN rn = 1 THEN sc END) * 6
        |  AND max(CASE WHEN rn = 2 THEN sc END) >= 2) AS mixed
        |FROM rk WHERE rn <= 2 GROUP BY 1, 2""".stripMargin,
    "q233_embed_outliers" ->
      """WITH n AS (SELECT vec_id, label, list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        | FROM embeddings),
        |ex AS (SELECT vec_id, label, unnest(range(len(v))) AS pos, v FROM n),
        |e2 AS (SELECT vec_id, label, pos,
        |  v[CAST(pos + 1 AS INTEGER)] AS x FROM ex),
        |cent AS (SELECT label, pos, sum(x) // count(*) AS c
        | FROM e2 GROUP BY 1, 2),
        |d2 AS (SELECT vec_id, e2.label,
        |  CAST(sum((x - c) * (x - c)) AS BIGINT) AS d2
        | FROM e2 JOIN cent ON e2.label = cent.label AND e2.pos = cent.pos
        | GROUP BY 1, 2),
        |st AS (SELECT label, count(*) AS n_vecs,
        |  CAST(sum(CAST(d2 AS HUGEINT)) AS HUGEINT) AS sum_d2
        | FROM d2 GROUP BY 1),
        |wm AS (SELECT label, max(d2) AS worst_d2 FROM d2 GROUP BY 1),
        |wv AS (SELECT d2.label, min(vec_id) AS worst_vec_id
        | FROM d2 JOIN wm ON d2.label = wm.label AND d2.d2 = wm.worst_d2
        | GROUP BY 1)
        |SELECT d2.label, CAST(max(n_vecs) AS BIGINT) AS n_vecs,
        | CAST(max(sum_d2 // n_vecs) AS BIGINT) AS mean_d2,
        | CAST(sum(CASE WHEN CAST(d2 AS HUGEINT) * n_vecs > sum_d2 * 9
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        | CAST(max(worst_vec_id) AS BIGINT) AS worst_vec_id,
        | CAST(max(wm.worst_d2) AS BIGINT) AS worst_d2
        |FROM d2 JOIN st ON d2.label = st.label
        | JOIN wm ON d2.label = wm.label JOIN wv ON d2.label = wv.label
        |GROUP BY 1""".stripMargin,
    "q234_reconciliation" ->
      """WITH li AS (SELECT l_orderkey, count(*) AS n_lines,
        |  sum(CAST(round(l_extendedprice * (1.0 - l_discount) *
        |    (1.0 + l_tax) * 100) AS BIGINT)) AS line_cents
        | FROM lineitem GROUP BY 1),
        |j AS (SELECT o_orderstatus,
        |  coalesce(n_lines, 0) AS n_lines,
        |  abs(CAST(round(o_totalprice * 100) AS BIGINT)
        |    - coalesce(line_cents, 0)) AS delta
        | FROM orders LEFT JOIN li ON o_orderkey = l_orderkey)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(CASE WHEN n_lines = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_lineless,
        | CAST(sum(CASE WHEN delta > n_lines * 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_mismatched,
        | CAST(max(delta) AS BIGINT) AS max_delta_cents,
        | CAST(sum(CAST(delta AS HUGEINT)) AS BIGINT) AS sum_delta_cents
        |FROM j GROUP BY 1""".stripMargin,
    "q235_ship_latency" ->
      """WITH j AS (SELECT o_orderpriority,
        |  date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) AS days
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(sum(days) * 1000 // count(*) AS BIGINT) AS mean_days_milli,
        | CAST(max(days) AS BIGINT) AS max_days,
        | CAST(sum(CASE WHEN days < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_impossible,
        | CAST(sum(CASE WHEN days > 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        | CAST(sum(CASE WHEN days > 90 THEN 1 ELSE 0 END) * 1000000 // count(*)
        |   AS BIGINT) AS late_ppm
        |FROM j GROUP BY 1""".stripMargin,
    "q236_price_consistency" ->
      """WITH j AS (SELECT p_brand,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS ext_cents,
        |  CAST(l_quantity AS BIGINT) AS qty,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS retail_cents
        | FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(sum(CAST(ext_cents AS HUGEINT) * 1000000) //
        |   sum(CAST(retail_cents AS HUGEINT) * qty) AS BIGINT)
        |   AS mean_ratio_ppm,
        | CAST(sum(CASE WHEN ext_cents * 1000000 // (retail_cents * qty)
        |     > 1200000 OR ext_cents * 1000000 // (retail_cents * qty)
        |     < 800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_band
        |FROM j GROUP BY 1""".stripMargin,
    "q237_contrastive_pairs" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |p AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |bounds AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx
        | FROM documents),
        |anchors AS (SELECT DISTINCT d1 FROM p),
        |negc AS (SELECT d1, mn + (${hex8Sql("concat('neg|', d1)")}
        |   % (mx - mn + 1)) AS cand
        | FROM anchors CROSS JOIN bounds),
        |neg AS (SELECT n.d1 AS anchor_id, n.cand AS partner_id,
        |  CAST(0 AS BIGINT) AS label
        | FROM negc n LEFT JOIN p ON p.d1 = least(n.d1, n.cand)
        |  AND p.d2 = greatest(n.d1, n.cand)
        | WHERE n.cand <> n.d1 AND p.d1 IS NULL)
        |SELECT d1 AS anchor_id, d2 AS partner_id, CAST(1 AS BIGINT) AS label
        |FROM p
        |UNION ALL SELECT anchor_id, partner_id, label FROM neg""".stripMargin,
    "q238_sq8_calibration" ->
      """WITH n AS (SELECT vec_id, list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        | FROM embeddings),
        |ex AS (SELECT unnest(range(len(v))) AS pos, v FROM n),
        |e2 AS (SELECT pos, v[CAST(pos + 1 AS INTEGER)] AS x FROM ex),
        |rg AS (SELECT pos, min(x) AS mn, max(x) AS mx, max(x) - min(x)
        |   AS rng FROM e2 GROUP BY 1),
        |qd AS (SELECT e2.pos, x, mn, mx,
        |  coalesce(((x - mn) * 510 + rng) // nullif(2 * rng, 0), 0) AS q,
        |  rng FROM e2 JOIN rg ON e2.pos = rg.pos),
        |dq AS (SELECT pos, x, mn, mx,
        |  x - (mn + coalesce((q * rng) // 255, 0)) AS err FROM qd)
        |SELECT CAST(pos AS BIGINT) AS pos,
        | CAST(max(mn) AS BIGINT) AS mn_micro,
        | CAST(max(mx) AS BIGINT) AS mx_micro,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(err * err AS HUGEINT)) // count(*) AS BIGINT)
        |   AS mean_err2_micro2,
        | CAST(max(abs(err)) AS BIGINT) AS max_abs_err_micro
        |FROM dq GROUP BY 1""".stripMargin,
    "q239_epoch_shuffle" ->
      s"""WITH d AS (SELECT doc_id, unnest(range(2)) AS epoch FROM documents),
        |h AS (SELECT doc_id, epoch,
        |  ${hex8Sql("concat('epoch', epoch, '|', doc_id)")} AS hb FROM d),
        |sh AS (SELECT doc_id, epoch, hb, hb % 8 AS shard FROM h)
        |SELECT CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard,
        | CAST(row_number() OVER (PARTITION BY epoch, shard
        |   ORDER BY hb, doc_id) - 1 AS BIGINT) AS position, doc_id
        |FROM sh""".stripMargin,
    "q240_packing_efficiency" ->
      s"""WITH d AS (SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  ${hex8Sql("concat('pack|', doc_id)")} % 8 AS shard
        | FROM documents),
        |ck AS (SELECT doc_id, lang, shard, n_tokens,
        | CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard
        |   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |   0) // 4096 AS BIGINT) AS chunk_id
        | FROM d),
        |f AS (SELECT lang, shard, chunk_id, sum(n_tokens) AS fill
        | FROM ck GROUP BY 1, 2, 3)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_chunks,
        | CAST(sum(fill) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN fill < 4096 THEN 4096 - fill ELSE 0 END)
        |   AS BIGINT) AS pad_tokens,
        | CAST(sum(fill) * 1000000 // (count(*) * 4096) AS BIGINT) AS fill_ppm,
        | CAST(sum(CASE WHEN fill < 4096 THEN 4096 - fill ELSE 0 END)
        |   * 1000000 // (count(*) * 4096) AS BIGINT) AS waste_ppm
        |FROM f GROUP BY 1""".stripMargin,
    // q241: value-based quintiles via the q151 histogram-boundary
    // machinery (NOT ntile — ties share a score on both engines).
    "q241_rfm_segments" ->
      """WITH pc AS (SELECT o_custkey, max(o_orderdate) AS last_order,
        |  count(*) AS freq,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        | FROM orders GROUP BY 1),
        |an AS (SELECT max(last_order) AS anchor FROM pc),
        |base AS (SELECT o_custkey, CAST(date_diff('day',
        |   CAST(last_order AS DATE), CAST(anchor AS DATE)) AS BIGINT)
        |   AS r_days, freq, cents FROM pc CROSS JOIN an),
        |rh AS (SELECT r_days AS bin, count(*) AS cnt FROM base GROUP BY 1),
        |rc AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum,
        |  sum(cnt) OVER () AS n FROM rh),
        |rb AS (SELECT (bin + 1) * 1 AS boundary FROM rc, range(1, 5) t(k)
        | WHERE cum * 5 >= k * n AND (cum - cnt) * 5 < k * n),
        |rs AS (SELECT b.o_custkey, 1 + count(rb.boundary) AS r_raw
        | FROM base b LEFT JOIN rb ON b.r_days >= rb.boundary GROUP BY 1),
        |fh AS (SELECT freq AS bin, count(*) AS cnt FROM base GROUP BY 1),
        |fc AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum,
        |  sum(cnt) OVER () AS n FROM fh),
        |fb AS (SELECT (bin + 1) * 1 AS boundary FROM fc, range(1, 5) t(k)
        | WHERE cum * 5 >= k * n AND (cum - cnt) * 5 < k * n),
        |fs AS (SELECT b.o_custkey, 1 + count(fb.boundary) AS f_score
        | FROM base b LEFT JOIN fb ON b.freq >= fb.boundary GROUP BY 1),
        |mh AS (SELECT cents // 100000 AS bin, count(*) AS cnt
        | FROM base GROUP BY 1),
        |mc AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum,
        |  sum(cnt) OVER () AS n FROM mh),
        |mb AS (SELECT (bin + 1) * 100000 AS boundary
        | FROM mc, range(1, 5) t(k)
        | WHERE cum * 5 >= k * n AND (cum - cnt) * 5 < k * n),
        |ms AS (SELECT b.o_custkey, 1 + count(mb.boundary) AS m_score
        | FROM base b LEFT JOIN mb ON b.cents >= mb.boundary GROUP BY 1)
        |SELECT CAST(6 - r_raw AS BIGINT) AS r_score,
        | CAST(f_score AS BIGINT) AS f_score,
        | CAST(m_score AS BIGINT) AS m_score,
        | CAST(count(*) AS BIGINT) AS n_customers,
        | CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM base JOIN rs USING (o_custkey) JOIN fs USING (o_custkey)
        | JOIN ms USING (o_custkey)
        |GROUP BY 1, 2, 3""".stripMargin,
    // q242: CUSUM via the prefix-min closed form; HUGEINT prefix
    // sums mirror the Spark side's Decimal(38,0) widening.
    "q242_cusum_changepoint" ->
      """WITH hc AS (SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS cnt
        |  FROM events GROUP BY 1),
        |g AS (SELECT unnest(range((SELECT min(h) FROM hc),
        |  (SELECT max(h) FROM hc) + 1)) AS h),
        |f AS (SELECT g.h, coalesce(cnt, 0) AS x
        | FROM g LEFT JOIN hc ON g.h = hc.h),
        |t AS (SELECT sum(x) AS total, count(*) AS hn FROM f),
        |sc AS (SELECT h, x, total, hn,
        |  sum(CAST(x AS HUGEINT) * (4 * hn) - CAST(total AS HUGEINT) * 5)
        |    OVER (ORDER BY h) AS pu,
        |  sum(CAST(x AS HUGEINT) * (4 * hn) - CAST(total AS HUGEINT) * 3)
        |    OVER (ORDER BY h) AS pd
        | FROM f CROSS JOIN t),
        |m AS (SELECT h, x, total, hn, pu, pd,
        |  min(pu) OVER (ORDER BY h) AS mu, max(pd) OVER (ORDER BY h) AS md
        | FROM sc),
        |st AS (SELECT h, x, total, hn, pu - mu AS su, md - pd AS sd,
        |  max(CASE WHEN pu = mu THEN h END) OVER (ORDER BY h) AS cpu,
        |  max(CASE WHEN pd = md THEN h END) OVER (ORDER BY h) AS cpd
        | FROM m),
        |al AS (SELECT h, x, total, hn, su, sd, cpu, cpd,
        |  su > CAST(total AS HUGEINT) * 8 AS ua,
        |  sd > CAST(total AS HUGEINT) * 8 AS da,
        |  lag(su > CAST(total AS HUGEINT) * 8, 1, false)
        |    OVER (ORDER BY h) AS pua,
        |  lag(sd > CAST(total AS HUGEINT) * 8, 1, false)
        |    OVER (ORDER BY h) AS pda
        | FROM st)
        |SELECT 'up' AS side, CAST(h AS BIGINT) AS h, CAST(x AS BIGINT) AS x,
        | CAST(su // (4 * hn) AS BIGINT) AS stat, CAST(cpu AS BIGINT) AS cp_h,
        | CAST(total * 1000 // hn AS BIGINT) AS mean_milli
        |FROM al WHERE ua AND NOT pua
        |UNION ALL
        |SELECT 'down', CAST(h AS BIGINT), CAST(x AS BIGINT),
        | CAST(sd // (4 * hn) AS BIGINT), CAST(cpd AS BIGINT),
        | CAST(total * 1000 // hn AS BIGINT)
        |FROM al WHERE da AND NOT pda""".stripMargin,
    // q243: q59's recursive-CTE closure + singleton coalesce.
    "q243_softdedup_weights" ->
      s"""WITH RECURSIVE $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM c UNION SELECT d2, d1 FROM c),
        |r AS (SELECT v, u FROM adj
        | UNION SELECT r.v, adj.u FROM r, adj WHERE r.u = adj.v),
        |comp AS (SELECT v AS doc_id, least(v, min(u)) AS component
        | FROM r GROUP BY v),
        |wc AS (SELECT d.doc_id, d.source,
        |  coalesce(comp.component, d.doc_id) AS cluster
        | FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id),
        |sz AS (SELECT cluster, count(*) AS csize FROM wc GROUP BY 1)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_in_clusters,
        | CAST(sum(1000000 // csize) AS BIGINT) AS eff_docs_ppm,
        | CAST(sum(1000000 // csize) // count(*) AS BIGINT) AS retention_ppm
        |FROM wc JOIN sz USING (cluster) GROUP BY 1""".stripMargin,
    // q244: one 63-bit activity mask per user; retention = bit tests.
    "q244_bitmask_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |d0 AS (SELECT min(day) AS d0 FROM e),
        |u AS (SELECT user_id, min(day - d0) AS cohort,
        |  bit_or(CAST(1 AS BIGINT) << CAST(day - d0 AS INTEGER)) AS mask
        | FROM e CROSS JOIN d0 WHERE day - d0 < 63 GROUP BY 1),
        |x AS (SELECT user_id, cohort, mask, unnest(range(0, 8)) AS k FROM u)
        |SELECT CAST(cohort AS BIGINT) AS cohort, CAST(k AS BIGINT) AS k,
        | CAST(count(*) AS BIGINT) AS n_cohort,
        | CAST(sum((mask >> CAST(cohort + k AS INTEGER)) & 1) AS BIGINT)
        |   AS n_active,
        | CAST(sum((mask >> CAST(cohort + k AS INTEGER)) & 1) * 1000000
        |   // count(*) AS BIGINT) AS ret_ppm
        |FROM x WHERE cohort + k < 63 GROUP BY 1, 2""".stripMargin,
    // q283: the streaming lattice's final state must equal q244's
    // batch relation - identical oracle.
    "q283_stream_bitmask_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |d0 AS (SELECT min(day) AS d0 FROM e),
        |u AS (SELECT user_id, min(day - d0) AS cohort,
        |  bit_or(CAST(1 AS BIGINT) << CAST(day - d0 AS INTEGER)) AS mask
        | FROM e CROSS JOIN d0 WHERE day - d0 < 63 GROUP BY 1),
        |x AS (SELECT user_id, cohort, mask, unnest(range(0, 8)) AS k FROM u)
        |SELECT CAST(cohort AS BIGINT) AS cohort, CAST(k AS BIGINT) AS k,
        | CAST(count(*) AS BIGINT) AS n_cohort,
        | CAST(sum((mask >> CAST(cohort + k AS INTEGER)) & 1) AS BIGINT)
        |   AS n_active,
        | CAST(sum((mask >> CAST(cohort + k AS INTEGER)) & 1) * 1000000
        |   // count(*) AS BIGINT) AS ret_ppm
        |FROM x WHERE cohort + k < 63 GROUP BY 1, 2""".stripMargin,
    // q284: exact two-sample KS per event type vs the pooled rest -
    // sup over every pooled jump point on the bounded distinct-cents
    // grid; HUGEINT cross-products, one ppm division, argmax ties to
    // the smallest cents.
    "q284_ks_drift" ->
      """WITH counts AS (SELECT CAST(round(value * 100) AS BIGINT) AS bin,
        |    event_type, count(*) AS c FROM events GROUP BY 1, 2),
        |grid AS (SELECT b.bin, t.event_type, coalesce(c.c, 0) AS c
        |  FROM (SELECT DISTINCT bin FROM counts) b
        |  CROSS JOIN (SELECT DISTINCT event_type FROM counts) t
        |  LEFT JOIN counts c ON c.bin = b.bin AND c.event_type = t.event_type),
        |cum AS (SELECT bin, event_type, c,
        |  sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum_t,
        |  sum(c) OVER (PARTITION BY event_type) AS n_t
        | FROM grid),
        |g AS (SELECT bin, sum(c) AS gr FROM counts GROUP BY 1),
        |gc AS (SELECT bin, sum(gr) OVER (ORDER BY bin) AS gcum FROM g),
        |tot AS (SELECT sum(c) AS n FROM counts),
        |st AS (SELECT event_type, n_t, n - n_t AS n_rest, bin,
        |  abs(CAST(cum_t AS HUGEINT) * (n - n_t)
        |    - CAST(gcum - cum_t AS HUGEINT) * n_t) AS stat
        | FROM cum JOIN gc USING (bin) CROSS JOIN tot)
        |SELECT event_type, CAST(max(n_t) AS BIGINT) AS n_type,
        | CAST(max(n_rest) AS BIGINT) AS n_rest,
        | CAST(max({'s': stat, 'nb': -bin})['s'] * 1000000
        |   // (CAST(max(n_t) AS HUGEINT) * max(n_rest)) AS BIGINT) AS ks_ppm,
        | CAST(-max({'s': stat, 'nb': -bin})['nb'] AS BIGINT) AS ks_at_cents
        |FROM st GROUP BY 1""".stripMargin,
    // q285: removal-effect attribution - 6 truncating integer-ppm
    // power iterations over the transition grid with an explicit
    // '__end' terminal; one removal variant per channel plus the
    // __none__ baseline; HUGEINT products, BIGINT casts.
    "q285_markov_removal" ->
      """WITH s AS (SELECT user_id, epoch_us(ts) AS ts, event_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nx
        | FROM events),
        |tr AS MATERIALIZED (SELECT event_type AS from_type,
        |  coalesce(nx, '__end') AS to_type, count(*) AS n FROM s GROUP BY 1, 2),
        |ot AS (SELECT from_type, sum(n) AS n_out FROM tr GROUP BY 1),
        |st AS (SELECT from_type AS st FROM tr UNION SELECT to_type FROM tr),
        |v AS (SELECT st AS removed FROM st WHERE st NOT IN ('purchase', '__end')
        |  UNION ALL SELECT '__none__'),
        |grid AS (SELECT v.removed, s.st FROM v CROSS JOIN st s),
        |fs AS (SELECT min({'ts': epoch_us(ts), 'eid': event_id,
        |    'et': event_type})['et'] AS st, user_id FROM events GROUP BY user_id),
        |fc AS (SELECT st, count(*) AS n_first FROM fs GROUP BY 1),
        |p0 AS (SELECT removed, st,
        |  CASE WHEN st = 'purchase' THEN 1000000 ELSE 0 END AS p FROM grid),
        |p1 AS MATERIALIZED (
        |  SELECT g.removed, g.st,
        |    CASE WHEN g.st = 'purchase' THEN 1000000
        |         WHEN g.st = g.removed THEN 0
        |         ELSE coalesce(x.pn, 0) END AS p
        |  FROM grid g LEFT JOIN (
        |    SELECT p.removed, tr.from_type AS st,
        |      CAST(sum(CAST(tr.n AS HUGEINT) * p.p) // max(ot.n_out) AS BIGINT) AS pn
        |    FROM tr JOIN p0 p ON tr.to_type = p.st
        |      JOIN ot ON tr.from_type = ot.from_type
        |    GROUP BY 1, 2) x ON g.removed = x.removed AND g.st = x.st),
        |p2 AS MATERIALIZED (
        |  SELECT g.removed, g.st,
        |    CASE WHEN g.st = 'purchase' THEN 1000000
        |         WHEN g.st = g.removed THEN 0
        |         ELSE coalesce(x.pn, 0) END AS p
        |  FROM grid g LEFT JOIN (
        |    SELECT p.removed, tr.from_type AS st,
        |      CAST(sum(CAST(tr.n AS HUGEINT) * p.p) // max(ot.n_out) AS BIGINT) AS pn
        |    FROM tr JOIN p1 p ON tr.to_type = p.st
        |      JOIN ot ON tr.from_type = ot.from_type
        |    GROUP BY 1, 2) x ON g.removed = x.removed AND g.st = x.st),
        |p3 AS MATERIALIZED (
        |  SELECT g.removed, g.st,
        |    CASE WHEN g.st = 'purchase' THEN 1000000
        |         WHEN g.st = g.removed THEN 0
        |         ELSE coalesce(x.pn, 0) END AS p
        |  FROM grid g LEFT JOIN (
        |    SELECT p.removed, tr.from_type AS st,
        |      CAST(sum(CAST(tr.n AS HUGEINT) * p.p) // max(ot.n_out) AS BIGINT) AS pn
        |    FROM tr JOIN p2 p ON tr.to_type = p.st
        |      JOIN ot ON tr.from_type = ot.from_type
        |    GROUP BY 1, 2) x ON g.removed = x.removed AND g.st = x.st),
        |p4 AS MATERIALIZED (
        |  SELECT g.removed, g.st,
        |    CASE WHEN g.st = 'purchase' THEN 1000000
        |         WHEN g.st = g.removed THEN 0
        |         ELSE coalesce(x.pn, 0) END AS p
        |  FROM grid g LEFT JOIN (
        |    SELECT p.removed, tr.from_type AS st,
        |      CAST(sum(CAST(tr.n AS HUGEINT) * p.p) // max(ot.n_out) AS BIGINT) AS pn
        |    FROM tr JOIN p3 p ON tr.to_type = p.st
        |      JOIN ot ON tr.from_type = ot.from_type
        |    GROUP BY 1, 2) x ON g.removed = x.removed AND g.st = x.st),
        |p5 AS MATERIALIZED (
        |  SELECT g.removed, g.st,
        |    CASE WHEN g.st = 'purchase' THEN 1000000
        |         WHEN g.st = g.removed THEN 0
        |         ELSE coalesce(x.pn, 0) END AS p
        |  FROM grid g LEFT JOIN (
        |    SELECT p.removed, tr.from_type AS st,
        |      CAST(sum(CAST(tr.n AS HUGEINT) * p.p) // max(ot.n_out) AS BIGINT) AS pn
        |    FROM tr JOIN p4 p ON tr.to_type = p.st
        |      JOIN ot ON tr.from_type = ot.from_type
        |    GROUP BY 1, 2) x ON g.removed = x.removed AND g.st = x.st),
        |p6 AS MATERIALIZED (
        |  SELECT g.removed, g.st,
        |    CASE WHEN g.st = 'purchase' THEN 1000000
        |         WHEN g.st = g.removed THEN 0
        |         ELSE coalesce(x.pn, 0) END AS p
        |  FROM grid g LEFT JOIN (
        |    SELECT p.removed, tr.from_type AS st,
        |      CAST(sum(CAST(tr.n AS HUGEINT) * p.p) // max(ot.n_out) AS BIGINT) AS pn
        |    FROM tr JOIN p5 p ON tr.to_type = p.st
        |      JOIN ot ON tr.from_type = ot.from_type
        |    GROUP BY 1, 2) x ON g.removed = x.removed AND g.st = x.st),
        |conv AS (SELECT p.removed,
        |  CAST(sum(CAST(fc.n_first AS HUGEINT) * p.p) // sum(fc.n_first) AS BIGINT)
        |    AS conv_ppm
        | FROM p6 p JOIN fc ON p.st = fc.st GROUP BY 1),
        |b AS (SELECT conv_ppm AS base_ppm FROM conv WHERE removed = '__none__')
        |SELECT removed AS removed_channel, base_ppm, conv_ppm AS removed_ppm,
        | CAST(CASE WHEN base_ppm = 0 THEN NULL
        |   ELSE (base_ppm - conv_ppm) * 1000000 // base_ppm END AS BIGINT)
        |   AS effect_ppm
        |FROM conv CROSS JOIN b WHERE removed <> '__none__'""".stripMargin,
    // q286: the streaming KMV sketch's final state replayed in SQL -
    // k smallest distinct hashes per qualifier (rank <= k), q250's
    // estimator arithmetic, exact distinct for the error column.
    "q286_stream_kmv" ->
      s"""WITH u AS (SELECT DISTINCT event_type AS qualifier, user_id
        |  FROM events),
        |cnt AS (SELECT qualifier, count(*) AS n_exact FROM u GROUP BY 1),
        |v AS (SELECT DISTINCT qualifier,
        |  ${hex8Sql("concat('kmv|', CAST(user_id AS VARCHAR))")} AS h
        | FROM u),
        |r AS (SELECT qualifier, h, row_number() OVER (PARTITION BY qualifier
        |   ORDER BY h) AS rk FROM v),
        |sk AS (SELECT qualifier, count(*) AS usz, max(h) AS kth
        | FROM r WHERE rk <= 16 GROUP BY 1),
        |e AS (SELECT qualifier, n_exact, usz, kth,
        |  CASE WHEN usz < 16 THEN usz
        |    ELSE (15 * 4294967296) // kth END AS est
        | FROM sk JOIN cnt USING (qualifier))
        |SELECT qualifier, CAST(n_exact AS BIGINT) AS n_exact,
        | CAST(usz AS BIGINT) AS usz, CAST(kth AS BIGINT) AS kth,
        | CAST(est AS BIGINT) AS est,
        | CAST(abs(est - n_exact) * 1000000 // n_exact AS BIGINT) AS err_ppm
        |FROM e""".stripMargin,
    // q287: deciles replayed by the exact quantileScore semantics
    // (bin histogram, k*n crossings, boundary-count assignment with
    // duplicate boundaries); HUGEINT lift cross-products.
    "q287_decile_lift" ->
      """WITH per AS (SELECT user_id,
        |  sum(CASE WHEN event_type IN ('click', 'view')
        |    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS m,
        |  CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
        |    THEN 1 ELSE 0 END AS conv
        | FROM events GROUP BY 1),
        |h AS (SELECT m // 100 AS bin, count(*) AS c FROM per GROUP BY 1),
        |cu AS (SELECT bin, c, sum(c) OVER (ORDER BY bin) AS cum FROM h),
        |t AS (SELECT count(*) AS n FROM per),
        |bd AS (SELECT (bin + 1) * 100 AS boundary
        | FROM cu CROSS JOIN t
        |  JOIN (SELECT unnest(range(1, 10)) AS k) kk
        |  ON cum * 10 >= k * n AND (cum - c) * 10 < k * n),
        |sc AS (SELECT p.user_id, p.conv, 1 + count(b.boundary) AS decile
        | FROM per p LEFT JOIN bd b ON b.boundary <= p.m GROUP BY 1, 2),
        |agg AS (SELECT decile, count(*) AS n_users, sum(conv) AS n_converters
        | FROM sc GROUP BY 1),
        |tt AS (SELECT sum(conv) AS nc, count(*) AS nu FROM per)
        |SELECT CAST(decile AS BIGINT) AS decile, CAST(n_users AS BIGINT) AS n_users,
        | CAST(n_converters AS BIGINT) AS n_converters,
        | CAST(n_converters * 1000000 // n_users AS BIGINT) AS conv_ppm,
        | CAST(CAST(n_converters AS HUGEINT) * nu * 1000000
        |   // (CAST(n_users AS HUGEINT) * nc) AS BIGINT) AS lift_ppm
        |FROM agg CROSS JOIN tt""".stripMargin,
    // q288: filtered search replayed as per-(query, label) rank <= k
    // over the exact integer cosine.
    "q288_ann_filtered" ->
      s"""WITH $quantCte,
        |lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label
        |  FROM embeddings),
        |sc AS (SELECT a.vec_id AS query_id, lb.label,
        |  b.vec_id AS neighbor_id, $cosExpr AS cosine
        | FROM m a JOIN m b ON a.vec_id < 5 AND b.vec_id >= 5
        |  JOIN lb ON b.vec_id = lb.vec_id)
        |SELECT query_id, label, rank, neighbor_id, cosine FROM (
        | SELECT query_id, label, neighbor_id, cosine,
        |  row_number() OVER (PARTITION BY query_id, label
        |    ORDER BY cosine DESC, neighbor_id) AS rank
        | FROM sc) t WHERE rank <= 3""".stripMargin,
    // q298: filtered-IVF + recall audit - reuses the q38 probe CTEs
    // (sc = probed-cell scores), attaches each neighbor's metadata
    // label, ranks per (query, label) on both the IVF and the exact
    // arm, and scores recall per group.
    "q298_filtered_ivf" ->
      s"""WITH $ivfScoreCtes,
        |lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label
        |  FROM embeddings),
        |ivfk AS (SELECT query_id, label, neighbor_id FROM (
        | SELECT sc.query_id, lb.label, sc.neighbor_id,
        |  row_number() OVER (PARTITION BY sc.query_id, lb.label
        |    ORDER BY sc.cosine DESC, sc.neighbor_id) AS rk
        | FROM sc JOIN lb ON sc.neighbor_id = lb.vec_id) t WHERE rk <= 3),
        |ic AS (SELECT query_id, label, count(*) AS n_ivf FROM ivfk
        | GROUP BY 1, 2),
        |scx AS (SELECT a.vec_id AS query_id, lb.label,
        |  b.vec_id AS neighbor_id, $cosExpr AS cosine
        | FROM m a JOIN m b ON a.vec_id < 5 AND b.vec_id >= 5
        |  JOIN lb ON b.vec_id = lb.vec_id),
        |exk AS (SELECT query_id, label, neighbor_id FROM (
        | SELECT query_id, label, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id, label
        |    ORDER BY cosine DESC, neighbor_id) AS rk
        | FROM scx) t WHERE rk <= 3),
        |j AS (SELECT exk.query_id, exk.label,
        |  CASE WHEN ivfk.neighbor_id IS NULL THEN 0 ELSE 1 END AS found
        | FROM exk LEFT JOIN ivfk ON exk.query_id = ivfk.query_id
        |  AND exk.label = ivfk.label
        |  AND exk.neighbor_id = ivfk.neighbor_id),
        |g AS (SELECT query_id, label, CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(found) AS BIGINT) AS n_hit
        | FROM j GROUP BY 1, 2)
        |SELECT g.query_id, g.label, g.n_exact,
        | CAST(coalesce(ic.n_ivf, 0) AS BIGINT) AS n_ivf, g.n_hit,
        | CAST(g.n_hit * 1000000 // g.n_exact AS BIGINT) AS recall_ppm
        |FROM g LEFT JOIN ic ON g.query_id = ic.query_id
        | AND g.label = ic.label""".stripMargin,
    // q289: retraction IVM - merge must equal the from-scratch
    // aggregate with the retracted set excluded; zero-support groups
    // vanish on both sides by construction.
    "q289_ivm_retract" ->
      """SELECT user_id, event_type, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE NOT (event_id % 7 = 0 AND epoch_us(ts) < 1705276800000000)
        |GROUP BY 1, 2""".stripMargin,
    // q300: every parsed field predicted from the generation formula
    // (the parser never sees it) - the gate proves the PPM
    // encode->stage->parse round-trip is exact on real bytes.
    "q300_ppm_decode" ->
      """WITH g AS (SELECT doc_id, md5(text) AS m,
        |  CAST(doc_id % 13 + 4 AS BIGINT) AS w,
        |  CAST(doc_id % 7 + 3 AS BIGINT) AS h FROM documents),
        |n AS (SELECT doc_id, w, h, w * h * 3 AS np, m FROM g),
        |s AS (SELECT doc_id, w, h, np,
        |  (np // 32) * list_sum(list_transform(range(32),
        |     i -> ascii(substr(m, CAST(i + 1 AS INTEGER), 1))))
        |  + coalesce(list_sum(list_transform(range(CAST(np % 32 AS INTEGER)),
        |     i -> ascii(substr(m, CAST(i + 1 AS INTEGER), 1)))), 0) AS sum_pix
        | FROM n)
        |SELECT doc_id, true AS is_p6, w AS width, h AS height,
        | CAST(255 AS BIGINT) AS maxval, np AS n_pixel_bytes,
        | CAST(sum_pix AS BIGINT) AS sum_pixels,
        | CAST(sum_pix * 1000 // np AS BIGINT) AS mean_pixel_milli
        |FROM s""".stripMargin,
    // q321: every thumbnail sample predicted from the generation
    // formula (pixel-region byte k = md5 hex char k mod 32) with the
    // same integer index map src = (dst · src_dim) // out_dim — the
    // parser reads the staged bytes, the oracle never does.
    "q321_ppm_resize" ->
      """WITH g AS (SELECT doc_id, md5(text) AS m,
        |  CAST(doc_id % 13 + 4 AS BIGINT) AS w,
        |  CAST(doc_id % 7 + 3 AS BIGINT) AS h FROM documents),
        |i AS (SELECT unnest(range(12)) AS i),
        |x AS (SELECT doc_id, m, w, h, i,
        |  i // 6 AS ty, (i // 3) % 2 AS tx, i % 3 AS channel FROM g, i),
        |k AS (SELECT doc_id, ty, tx, channel,
        |  (((ty * h) // 2) * w + ((tx * w) // 2)) * 3 + channel AS kk, m
        | FROM x)
        |SELECT doc_id, CAST(ty AS BIGINT) AS ty, CAST(tx AS BIGINT) AS tx,
        | CAST(channel AS BIGINT) AS channel,
        | CAST(ascii(substr(m, CAST(kk % 32 + 1 AS INTEGER), 1)) AS BIGINT)
        |  AS value
        |FROM k""".stripMargin,
    // q322: q95's converter relation + rank selection at ceil(q·cnt)
    // with the (dur, user_id) total order — the oracle ranks fully
    // (DuckDB need not scale); cuts must land identically.
    "q322_time_to_convert" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |v AS (SELECT user_id, min(ts) AS first_view FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, v.first_view, min(e.ts) AS conv_ts
        | FROM e JOIN v ON e.user_id = v.user_id
        | WHERE e.event_type = 'purchase' AND e.ts >= v.first_view
        | GROUP BY 1, 2),
        |d AS (SELECT user_id, conv_ts - first_view AS dur FROM p),
        |r AS (SELECT dur, row_number() OVER (ORDER BY dur, user_id) AS rn,
        |  count(*) OVER () AS cnt FROM d)
        |SELECT CAST(max(cnt) AS BIGINT) AS n_converters,
        | CAST(min(CASE WHEN rn = CAST(ceil(cnt * 0.50) AS BIGINT)
        |   THEN dur END) AS BIGINT) AS p50_us,
        | CAST(min(CASE WHEN rn = CAST(ceil(cnt * 0.90) AS BIGINT)
        |   THEN dur END) AS BIGINT) AS p90_us,
        | CAST(min(CASE WHEN rn = CAST(ceil(cnt * 0.99) AS BIGINT)
        |   THEN dur END) AS BIGINT) AS p99_us
        |FROM r""".stripMargin,
    // q323: the oracle counts pair audiences directly from the
    // distinct (user, type) relation — the bitmask collapse must
    // agree with plain set algebra; zero-overlap pairs kept via the
    // all-pairs grid left join.
    "q323_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |pc AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS n_both
        | FROM ut a JOIN ut b ON a.user_id = b.user_id
        |  AND a.event_type < b.event_type
        | GROUP BY 1, 2),
        |grid AS (SELECT na.event_type AS type_a, nb.event_type AS type_b,
        |  na.n AS n_a, nb.n AS n_b
        | FROM n na JOIN n nb ON na.event_type < nb.event_type)
        |SELECT g.type_a, g.type_b,
        | CAST(g.n_a AS BIGINT) AS n_a, CAST(g.n_b AS BIGINT) AS n_b,
        | CAST(coalesce(pc.n_both, 0) AS BIGINT) AS n_both,
        | CAST(coalesce(pc.n_both, 0) * 1000000 //
        |   nullif(g.n_a + g.n_b - coalesce(pc.n_both, 0), 0) AS BIGINT)
        |  AS jaccard_ppm
        |FROM grid g LEFT JOIN pc
        | ON g.type_a = pc.type_a AND g.type_b = pc.type_b""".stripMargin,
    // q299: the streaming retraction view's final state IS q289's
    // batch relation — recompute without the retracted set; groups
    // whose support hits zero are absent on both sides.
    "q299_stream_ivm_retract" ->
      """SELECT user_id, event_type, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE NOT (event_id % 7 = 0 AND epoch_us(ts) < 1705276800000000)
        |GROUP BY 1, 2""".stripMargin,
    // q290: skyline replayed as the same staircase decomposition
    // (per-price max + exclusive prefix max over the bounded grid).
    "q290_pareto_frontier" ->
      """WITH p AS (SELECT p_partkey, p_brand,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |  CAST(p_size AS BIGINT) AS p_size FROM part),
        |g AS (SELECT price_cents, max(p_size) AS best_size
        | FROM p GROUP BY 1),
        |pre AS (SELECT price_cents, best_size,
        |  coalesce(max(best_size) OVER (ORDER BY price_cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |    AS prefix_best
        | FROM g)
        |SELECT p.p_partkey, p.p_brand, p.price_cents, p.p_size
        |FROM p JOIN pre USING (price_cents)
        |WHERE p.p_size > pre.prefix_best AND p.p_size = pre.best_size""".stripMargin,
    // q291: shard layout replayed with one global window (the oracle
    // is unconstrained by plan shape); same hash order, same
    // start-offset cut rule.
    "q291_media_shard_pack" ->
      s"""WITH b AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS bytes,
        |  ${hex8Sql("concat('shard|', CAST(doc_id AS VARCHAR))")} AS h
        | FROM documents),
        |o AS (SELECT doc_id, bytes,
        |  sum(bytes) OVER (ORDER BY h, doc_id) - bytes AS strt FROM b),
        |a AS (SELECT bytes, strt // 16384 AS shard_id,
        |  CASE WHEN strt // 16384 <> (strt + bytes - 1) // 16384
        |    THEN 1 ELSE 0 END AS straddle FROM o)
        |SELECT CAST(shard_id AS BIGINT) AS shard_id,
        | CAST(count(*) AS BIGINT) AS n_blobs,
        | CAST(sum(bytes) AS BIGINT) AS bytes,
        | CAST(sum(straddle) AS BIGINT) AS n_straddlers,
        | CAST(sum(bytes) * 1000000 // 16384 AS BIGINT) AS fill_ppm
        |FROM a GROUP BY 1""".stripMargin,
    // q302: Q2's correlated min replayed as a row_number window
    // (the oracle is unconstrained by plan shape).
    "q302_min_cost_supplier" ->
      """WITH o AS (SELECT l_partkey, l_suppkey,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents,
        |  CAST(sum(l_quantity) AS BIGINT) AS qty
        | FROM lineitem GROUP BY 1, 2),
        |u AS (SELECT l_partkey, l_suppkey,
        |  CAST(CAST(cents AS HUGEINT) * 10000 // qty AS BIGINT)
        |    AS unit_micro FROM o),
        |r AS (SELECT l_partkey, l_suppkey, unit_micro,
        |  count(*) OVER (PARTITION BY l_partkey) AS n_suppliers,
        |  row_number() OVER (PARTITION BY l_partkey
        |    ORDER BY unit_micro, l_suppkey) AS rk FROM u)
        |SELECT r.l_partkey AS p_partkey, r.l_suppkey AS best_suppkey,
        | s.s_name, n.n_name, r.unit_micro,
        | CAST(r.n_suppliers AS BIGINT) AS n_suppliers
        |FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        | JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE r.rk = 1""".stripMargin,
    // q303: Q11's fraction-of-total HAVING as integer cross-multiply.
    "q303_important_parts" ->
      """WITH g AS (SELECT n.n_name, l.l_partkey,
        |  sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |    AS value_cents
        | FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        | GROUP BY 1, 2),
        |t AS (SELECT n_name, sum(value_cents) AS nation_cents FROM g
        | GROUP BY 1)
        |SELECT g.n_name, g.l_partkey,
        | CAST(g.value_cents AS BIGINT) AS value_cents,
        | CAST(g.value_cents * 1000000 // t.nation_cents AS BIGINT)
        |   AS share_ppm
        |FROM g JOIN t ON g.n_name = t.n_name
        |WHERE g.value_cents * 1000 > t.nation_cents""".stripMargin,
    // q304: Q15's max-revenue view; ties kept.
    "q304_top_supplier" ->
      """WITH r AS (SELECT l_suppkey,
        |  sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |    AS BIGINT)) AS revenue_cents
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'
        | GROUP BY 1),
        |m AS (SELECT max(revenue_cents) AS mx FROM r)
        |SELECT s.s_suppkey, s.s_name,
        | CAST(r.revenue_cents AS BIGINT) AS revenue_cents
        |FROM r CROSS JOIN m JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.revenue_cents = m.mx""".stripMargin,
    // q305: Q16's distinct-supplier breadth with the distrust filter.
    "q305_brand_supplier_counts" ->
      """SELECT p.p_brand, CAST(p.p_size AS BIGINT) AS p_size,
        | CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_suppkey NOT IN
        | (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2""".stripMargin,
    // q306: Q20's half-of-demand test as a concentration audit.
    "q306_dominant_supplier" ->
      """WITH pr AS (SELECT l_partkey, l_suppkey,
        |  CAST(sum(l_quantity) AS BIGINT) AS supp_qty
        | FROM lineitem GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, sum(supp_qty) AS part_qty,
        |  count(*) AS n_suppliers FROM pr GROUP BY 1)
        |SELECT pr.l_partkey, pr.l_suppkey, pr.supp_qty,
        | CAST(pt.part_qty AS BIGINT) AS part_qty,
        | CAST(pt.n_suppliers AS BIGINT) AS n_suppliers,
        | CAST(pr.supp_qty * 1000000 // pt.part_qty AS BIGINT) AS share_ppm
        |FROM pr JOIN pt ON pr.l_partkey = pt.l_partkey
        |WHERE pt.n_suppliers >= 2
        | AND pr.supp_qty * pt.n_suppliers > 3 * pt.part_qty""".stripMargin,
    // q307: Q10 with the deterministic (cents desc, custkey) cut.
    "q307_returned_revenue" ->
      """WITH r AS (SELECT o.o_custkey,
        |  sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100)
        |    AS BIGINT)) AS revenue_cents
        | FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        | WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        | GROUP BY 1 ORDER BY revenue_cents DESC, o_custkey LIMIT 20)
        |SELECT c.c_custkey, c.c_name, n.n_name,
        | CAST(r.revenue_cents AS BIGINT) AS revenue_cents
        |FROM r JOIN customer c ON r.o_custkey = c.c_custkey
        | JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin,
    // q308: trailing-28-day active-day histogram.
    "q308_power_curve" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 86400000000 AS day FROM events),
        |a AS (SELECT max(day) AS mxd FROM d),
        |pu AS (SELECT user_id, count(*) AS active_days
        | FROM d, a WHERE day > mxd - 28 GROUP BY 1),
        |h AS (SELECT active_days, count(*) AS n_users FROM pu GROUP BY 1),
        |t AS (SELECT sum(n_users) AS n_total FROM h)
        |SELECT CAST(active_days AS BIGINT) AS active_days,
        | CAST(n_users AS BIGINT) AS n_users,
        | CAST(n_users * 1000000 // n_total AS BIGINT) AS share_ppm
        |FROM h, t""".stripMargin,
    // q309: per-class P/R/F1 + macro from the q29 prediction rule.
    "q309_macro_f1" ->
      """WITH b AS (SELECT lang, string_split(text,' ') AS toks
        |  FROM documents),
        |sc AS (SELECT lang,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und'))) AS s_de,
        |  len(list_filter(toks, x -> x IN ('le','la','les','et'))) AS s_fr,
        |  len(list_filter(toks, x -> x IN ('el','los','las','y'))) AS s_es
        | FROM b),
        |p AS (SELECT lang,
        |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred FROM sc),
        |g AS (SELECT lang, pred, count(*) AS n FROM p GROUP BY 1, 2),
        |cl AS (SELECT unnest(['en','de','fr','es']) AS cls),
        |pc AS (SELECT cls,
        |  CAST(coalesce(sum(CASE WHEN g.lang = cls AND g.pred = cls
        |    THEN n END), 0) AS BIGINT) AS tp,
        |  CAST(coalesce(sum(CASE WHEN g.lang <> cls AND g.pred = cls
        |    THEN n END), 0) AS BIGINT) AS fp,
        |  CAST(coalesce(sum(CASE WHEN g.lang = cls AND g.pred <> cls
        |    THEN n END), 0) AS BIGINT) AS fn
        | FROM cl LEFT JOIN g ON true GROUP BY 1),
        |m AS (SELECT cls AS lang, tp, fp, fn,
        |  CASE WHEN tp + fp = 0 THEN NULL
        |    ELSE CAST(tp * 1000000 // (tp + fp) AS BIGINT) END
        |    AS precision_ppm,
        |  CASE WHEN tp + fn = 0 THEN NULL
        |    ELSE CAST(tp * 1000000 // (tp + fn) AS BIGINT) END
        |    AS recall_ppm
        | FROM pc),
        |f AS (SELECT lang, tp, fp, fn, precision_ppm, recall_ppm,
        |  CASE WHEN coalesce(precision_ppm, 0) + coalesce(recall_ppm, 0) = 0
        |    THEN NULL
        |    ELSE CAST(2 * coalesce(precision_ppm, 0) * coalesce(recall_ppm, 0)
        |      // (coalesce(precision_ppm, 0) + coalesce(recall_ppm, 0))
        |      AS BIGINT) END AS f1_ppm
        | FROM m)
        |SELECT lang, tp, fp, fn, precision_ppm, recall_ppm, f1_ppm FROM f
        |UNION ALL
        |SELECT '__macro', CAST(sum(tp) AS BIGINT), CAST(sum(fp) AS BIGINT),
        | CAST(sum(fn) AS BIGINT),
        | CAST(sum(coalesce(precision_ppm, 0)) // count(*) AS BIGINT),
        | CAST(sum(coalesce(recall_ppm, 0)) // count(*) AS BIGINT),
        | CAST(sum(coalesce(f1_ppm, 0)) // count(*) AS BIGINT)
        |FROM f""".stripMargin,
    // q310: Q3 with the deterministic (cents desc, orderkey) cut.
    "q310_shipping_priority" ->
      """SELECT l.l_orderkey AS o_orderkey, o.o_orderdate,
        | CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount)
        |   * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l
        | JOIN orders o ON l.l_orderkey = o.o_orderkey
        | JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        | AND o.o_orderdate < TIMESTAMP '1996-07-15'
        | AND l.l_shipdate > TIMESTAMP '1996-07-15'
        |GROUP BY 1, 2
        |ORDER BY revenue_cents DESC, o_orderkey LIMIT 10""".stripMargin,
    // q311: Q7's full bilateral trade matrix.
    "q311_nation_trade" ->
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        | CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
        | CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount)
        |   * 100) AS BIGINT)) AS BIGINT) AS volume_cents
        |FROM lineitem l
        | JOIN orders o ON l.l_orderkey = o.o_orderkey
        | JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        | JOIN customer c ON o.o_custkey = c.c_custkey
        | JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        |WHERE ns.n_name <> nc.n_name
        |GROUP BY 1, 2, 3""".stripMargin,
    // q312: Q9 with catalog cost standing in for supplycost.
    "q312_nation_profit" ->
      """SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
        | CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount)
        |    * 100) AS BIGINT)
        |  - CAST(round(p.p_retailprice * 100) AS BIGINT)
        |    * CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS profit_cents
        |FROM lineitem l
        | JOIN part p ON l.l_partkey = p.p_partkey
        | JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | JOIN nation n ON s.s_nationkey = n.n_nationkey
        | JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE p.p_name LIKE '%a%'
        |GROUP BY 1, 2""".stripMargin,
    // q313: Q18's HAVING-grouped-subquery shape.
    "q313_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
        |  CAST(sum(l_quantity) AS BIGINT) AS total_qty
        | FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 190)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
        | big.total_qty,
        | CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM big JOIN orders o ON big.l_orderkey = o.o_orderkey
        | JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin,
    // q314: the full SEP loop - a COMPLETED consume acks max visible
    // seq, which makes every downstream number fixture-free.
    "q314_sep_lifecycle" ->
      """WITH a AS (
        | SELECT 'clicks' AS subscription, max(event_id) AS ack_seq
        |  FROM events WHERE event_type = 'click'
        | UNION ALL SELECT 'all', max(event_id) FROM events),
        |m AS (SELECT min(ack_seq) AS min_ack FROM a),
        |bd AS (SELECT coalesce(
        |  (SELECT min(epoch_us(ts)) FROM events, m WHERE event_id > min_ack),
        |  (SELECT max(epoch_us(ts)) + 1 FROM events)) AS boundary),
        |dom AS (SELECT count(DISTINCT user_id) AS n_snapshot_keys
        | FROM events, bd WHERE epoch_us(ts) < boundary),
        |st AS (SELECT count(DISTINCT user_id) AS n_state_rows FROM events)
        |SELECT a.subscription, CAST(a.ack_seq AS BIGINT) AS ack_seq,
        | CAST((SELECT count(*) FROM events e WHERE e.event_id > a.ack_seq)
        |   AS BIGINT) AS n_pending,
        | CAST(bd.boundary AS BIGINT) AS boundary_ts,
        | CAST(dom.n_snapshot_keys AS BIGINT) AS n_snapshot_keys,
        | CAST(st.n_state_rows AS BIGINT) AS n_state_rows
        |FROM a CROSS JOIN bd CROSS JOIN dom CROSS JOIN st""".stripMargin,
    // q315: exact integer CV-squared; HUGEINT mirrors Decimal(38,0).
    "q315_bot_regularity" ->
      """WITH g AS (SELECT user_id, epoch_us(ts) - lag(epoch_us(ts))
        |  OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |  AS gap FROM events),
        |a AS (SELECT user_id, count(*) AS n_gaps, sum(gap) AS sg,
        |  sum(CAST(gap AS HUGEINT) * gap) AS sg2
        | FROM g WHERE gap IS NOT NULL GROUP BY 1
        | HAVING count(*) >= 5 AND sum(gap) > 0)
        |SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
        | CAST(sg // n_gaps AS BIGINT) AS mean_gap_us,
        | CAST((n_gaps * sg2 - CAST(sg AS HUGEINT) * sg) * 1000
        |   // (CAST(sg AS HUGEINT) * sg) AS BIGINT) AS cv2_milli,
        | 10 * (n_gaps * sg2 - CAST(sg AS HUGEINT) * sg)
        |   < CAST(sg AS HUGEINT) * sg AS is_bot
        |FROM a""".stripMargin,
    // q316: growth accounting; churn booked at day+1 within the grid.
    "q316_growth_accounting" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 86400000000 AS day FROM events),
        |w AS (SELECT user_id, day,
        |  lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
        |  lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
        | FROM d),
        |a AS (SELECT max(day) AS mxd FROM d),
        |act AS (SELECT day,
        |  sum(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS n_new,
        |  sum(CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END) AS n_retained,
        |  sum(CASE WHEN prev_day IS NOT NULL AND prev_day < day - 1
        |    THEN 1 ELSE 0 END) AS n_resurrected
        | FROM w GROUP BY 1),
        |ch AS (SELECT day + 1 AS day, count(*) AS n_churned FROM w, a
        | WHERE (next_day IS NULL OR next_day > day + 1) AND day + 1 <= mxd
        | GROUP BY 1)
        |SELECT CAST(coalesce(act.day, ch.day) AS BIGINT) AS day,
        | CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
        | CAST(coalesce(n_retained, 0) AS BIGINT) AS n_retained,
        | CAST(coalesce(n_resurrected, 0) AS BIGINT) AS n_resurrected,
        | CAST(coalesce(ch.n_churned, 0) AS BIGINT) AS n_churned
        |FROM act FULL OUTER JOIN ch ON act.day = ch.day""".stripMargin,
    // q317: Q13's left join keeps the zero-order customers; the
    // distribution is over the order-count domain.
    "q317_cust_order_distribution" ->
      """WITH pc AS (SELECT o_custkey, count(*) AS cnt FROM orders
        |  WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
        |SELECT CAST(coalesce(pc.cnt, 0) AS BIGINT) AS c_count,
        | CAST(count(*) AS BIGINT) AS custdist
        |FROM customer c LEFT JOIN pc ON c.c_custkey = pc.o_custkey
        |GROUP BY 1""".stripMargin,
    // q318: the level-synchronous BFS as a recursive CTE — UNION
    // dedups (v, hops) states, min(hops) per vertex is the shortest
    // distance; hops < 4 caps the recursion at the Spark side's
    // maxHops.
    "q318_bfs_hops" ->
      s"""WITH RECURSIVE $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM c UNION SELECT d2, d1 FROM c),
        |bfs AS (SELECT u AS v, CAST(0 AS BIGINT) AS hops
        |  FROM (SELECT DISTINCT u FROM adj) sd WHERE u % 10 = 0
        | UNION
        | SELECT a.v, b.hops + 1 FROM bfs b JOIN adj a ON a.u = b.v
        | WHERE b.hops < 4)
        |SELECT v AS doc_id, CAST(min(hops) AS BIGINT) AS hops
        |FROM bfs GROUP BY 1""".stripMargin,
    // q325: Q12 shape — mode / receipt / commit derived exactly as
    // the Spark side derives them (suppkey 7-way mode, ship +
    // (suppkey%30+1)d receipt, order + 30d commit).
    "q325_shipmode_priority" ->
      """SELECT ['MAIL','SHIP','AIR','TRUCK','RAIL','FOB','REG AIR']
        |   [CAST(l_suppkey % 7 + 1 AS INTEGER)] AS ship_mode,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate + (l_suppkey % 30 + 1) * INTERVAL 1 DAY
        |   >= TIMESTAMP '1996-01-01'
        | AND l_shipdate + (l_suppkey % 30 + 1) * INTERVAL 1 DAY
        |   < TIMESTAMP '1998-01-01'
        | AND o_orderdate + 30 * INTERVAL 1 DAY
        |   < l_shipdate + (l_suppkey % 30 + 1) * INTERVAL 1 DAY
        | AND l_shipdate < o_orderdate + 30 * INTERVAL 1 DAY
        |GROUP BY 1""".stripMargin,
    // q326: the CONTINUOUSLY-maintained index must yield exactly the
    // one-shot batch verdicts — the SAME oracle as q105/q111, the
    // strongest possible stream≡batch pin for the dedup flagship.
    "q326_stream_dedup_index" -> incrementalDedupOracle,
    // q327: within-stream pair discovery is batching-invariant — the
    // oracle is the full band self-join restricted to the streamed
    // (odd) half of the corpus.
    "q327_stream_dedup_pairs" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte
        |SELECT a.doc_id AS d1, b.doc_id AS d2
        |FROM bands a JOIN bands b ON a.band = b.band
        | AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        | AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
        |GROUP BY 1, 2""".stripMargin,
    // q328: the oracle replays the pixel FORMULA over the (x, y)
    // grid; the Spark side reads pixels out of a real deflate-
    // compressed PNG via ImageIO — agreement proves the compressed
    // round-trip is sample-exact.
    "q328_png_decode" ->
      """WITH d AS (SELECT doc_id, doc_id % 13 + 4 AS width,
        |  doc_id % 7 + 3 AS height FROM documents),
        |xs AS (SELECT unnest(range(16)) AS x),
        |ys AS (SELECT unnest(range(9)) AS y),
        |px AS (SELECT doc_id, width, height, x, y FROM d, xs, ys
        | WHERE x < width AND y < height),
        |agg AS (SELECT doc_id, width, height,
        |  sum((doc_id + 3*x + 5*y) % 256) AS sum_r,
        |  sum((2*doc_id + 7*x + 11*y) % 256) AS sum_g,
        |  sum((3*doc_id + 13*x + 17*y) % 256) AS sum_b
        | FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(width AS BIGINT) AS width,
        | CAST(height AS BIGINT) AS height,
        | CAST(width * height AS BIGINT) AS n_pixels,
        | CAST(sum_r AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
        | CAST(sum_b AS BIGINT) AS sum_b,
        | CAST((sum_r + sum_g + sum_b) * 1000 // (width * height * 3)
        |   AS BIGINT) AS mean_gray_milli
        |FROM agg""".stripMargin,
    // q329: every dhash bit checks TWO formula-predicted gray values
    // against the decoded raster's 9×8 nearest-neighbor grid.
    "q329_png_dhash" ->
      """WITH d AS (SELECT doc_id, doc_id % 13 + 4 AS w,
        |  doc_id % 7 + 3 AS h FROM documents),
        |gxs AS (SELECT unnest(range(9)) AS gx),
        |gys AS (SELECT unnest(range(8)) AS gy),
        |g AS (SELECT doc_id, gx, gy,
        |  (((doc_id + 3*((gx*w)//9) + 5*((gy*h)//8)) % 256)
        |   + ((2*doc_id + 7*((gx*w)//9) + 11*((gy*h)//8)) % 256)
        |   + ((3*doc_id + 13*((gx*w)//9) + 17*((gy*h)//8)) % 256)) // 3
        |    AS gray
        | FROM d, gxs, gys)
        |SELECT a.doc_id, CAST(a.gy AS BIGINT) AS gy,
        | CAST(a.gx AS BIGINT) AS gx,
        | CAST(CASE WHEN a.gray > b.gray THEN 1 ELSE 0 END AS BIGINT) AS bit
        |FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.gy = b.gy
        | AND b.gx = a.gx + 1
        |WHERE a.gx < 8""".stripMargin,
    // q330: the full IVF+PQ pipeline replayed — residual sign codes,
    // integer scale vector, reconstruction, ADC over probed cells,
    // top-k, recall vs the exact brute force; all integer except the
    // fixed IEEE score expression both engines share.
    "q330_ivf_pq" ->
      s"""WITH $ivfScoreCtes,
        |ps AS (SELECT unnest(range(64)) AS pos),
        |rx AS (SELECT a.vec_id, a.cell, ps.pos,
        |  cn.cv[pos+1] AS cvp, a.v[pos+1] - cn.cv[pos+1] AS r
        | FROM asg a JOIN cn ON a.cell = cn.label CROSS JOIN ps),
        |sj AS (SELECT pos, CAST(sum(abs(r)) // count(*) AS BIGINT) AS sj
        | FROM rx WHERE vec_id >= 5 GROUP BY 1),
        |rec AS (SELECT rx.vec_id, rx.cell, rx.pos,
        |  rx.cvp + CASE WHEN rx.r >= 0 THEN sj.sj ELSE -sj.sj END AS vh
        | FROM rx JOIN sj ON rx.pos = sj.pos),
        |rv AS (SELECT vec_id, cell, list(vh ORDER BY pos) AS vh,
        |  CAST(sum(vh * vh) AS BIGINT) AS vn2
        | FROM rec GROUP BY 1, 2),
        |adc AS (SELECT pr.query_id, rv.vec_id AS neighbor_id,
        |  CAST(CAST(list_sum(list_transform(range(64),
        |     i -> pr.qv[i+1] * rv.vh[i+1])) AS BIGINT) AS DOUBLE)
        |   / (sqrt(CAST(pr.qn2 AS DOUBLE)) * sqrt(CAST(rv.vn2 AS DOUBLE)))
        |    AS score
        | FROM pr JOIN rv ON pr.cell = rv.cell AND rv.vec_id >= 5),
        |pqk AS (SELECT query_id, neighbor_id FROM (
        | SELECT query_id, neighbor_id, row_number() OVER (
        |   PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk
        | FROM adc) t WHERE rk <= 5),
        |pc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_pq
        | FROM pqk GROUP BY 1),
        |scx AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  $cosExpr AS cosine
        | FROM m a JOIN m b ON a.vec_id < 5 AND b.vec_id >= 5),
        |exk AS (SELECT query_id, neighbor_id FROM (
        | SELECT query_id, neighbor_id, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
        | FROM scx) t WHERE rk <= 5),
        |j AS (SELECT exk.query_id,
        |  CASE WHEN pqk.neighbor_id IS NULL THEN 0 ELSE 1 END AS found
        | FROM exk LEFT JOIN pqk ON exk.query_id = pqk.query_id
        |  AND exk.neighbor_id = pqk.neighbor_id),
        |g AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(found) AS BIGINT) AS n_hit FROM j GROUP BY 1)
        |SELECT g.query_id, g.n_exact,
        | CAST(coalesce(pc.n_pq, 0) AS BIGINT) AS n_pq, g.n_hit,
        | CAST(g.n_hit * 1000000 // g.n_exact AS BIGINT) AS recall_ppm,
        | CAST(32 AS BIGINT) AS mem_ratio
        |FROM g LEFT JOIN pc ON g.query_id = pc.query_id""".stripMargin,
    // q331: the sketch's estimates vary with Spark's partition-merge
    // order, but its self-carried worst-case bound holds for EVERY
    // order — so the gated surface is the rank-INTERVAL assertion
    // (target within [count(<est)+1, count(<=est)] widened by the
    // bound — the tie-correct form; plus n), which is deterministic;
    // the spec pins tightness, laws, and a tie-heavy corpus.
    "q331_kll_quantiles" ->
      """WITH qs AS (SELECT unnest([10, 250, 500, 750, 990]) AS q)
        |SELECT CAST(q AS BIGINT) AS q_milli,
        | (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n,
        | CAST(1 AS BIGINT) AS within_bound
        |FROM qs""".stripMargin,
    // q332: deletion-variant block histogram — DuckDB rebuilds the
    // same neighborhood (substr splice + the identity member).
    "q332_name_blocks" ->
      """WITH v AS (SELECT c_custkey,
        |  unnest(list_append(list_transform(range(1, length(c_name) + 1),
        |    i -> substr(c_name, 1, CAST(i - 1 AS INTEGER))
        |      || substr(c_name, CAST(i + 1 AS INTEGER))), c_name))
        |   AS variant FROM customer),
        |b AS (SELECT variant, CAST(count(*) AS BIGINT) AS bsz
        | FROM v GROUP BY 1)
        |SELECT bsz AS block_size, CAST(count(*) AS BIGINT) AS n_blocks,
        | CAST(bsz * (bsz - 1) // 2 AS BIGINT) AS pairs_per_block,
        | CAST(bsz * (bsz - 1) // 2 * count(*) AS BIGINT) AS total_pairs,
        | bsz > 256 AS is_overflow
        |FROM b GROUP BY 1""".stripMargin,
    // q333: hashed-bigram importance weights replayed end-to-end;
    // both engines rank the ROUNDED score (ties to doc_id) so the
    // selection cut is deterministic.
    "q333_dsir_selection" ->
      s"""WITH tt AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1),
        |   i -> t[i+1] || ' ' || t[i+2])) AS bg
        | FROM tt WHERE len(t) >= 2),
        |hb AS (SELECT doc_id,
        |  ${hex8Sql("concat('dsir|', bg)")} % 4096 AS b FROM bg),
        |c AS (SELECT b,
        |  sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ct,
        |  sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS cr
        | FROM hb GROUP BY 1),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM c),
        |sc AS (SELECT doc_id, count(*) AS nb,
        |  sum(ln(ct + 1) - ln(cr + 1)) AS ssum
        | FROM hb JOIN c USING (b) WHERE doc_id % 2 = 1 GROUP BY 1),
        |fin AS (SELECT doc_id, nb,
        |  round(ssum - nb * (ln(nt + 4096) - ln(nr + 4096)), 4)
        |   AS dsir_score FROM sc, tot),
        |sel AS (SELECT doc_id FROM fin
        | ORDER BY dsir_score DESC, doc_id LIMIT 50)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams, dsir_score,
        | doc_id IN (SELECT doc_id FROM sel) AS selected
        |FROM fin""".stripMargin,
    // q334: per-vector fixed IEEE expressions — no cross-row float
    // summation anywhere, so the gate is exact.
    "q334_silhouette" ->
      s"""WITH $ivfScoreCtes,
        |own AS (SELECT ac.vec_id, asg.cell, ac.ccos AS acos
        | FROM ac JOIN asg ON ac.vec_id = asg.vec_id
        | WHERE ac.label = asg.cell),
        |oth AS (SELECT ac.vec_id, max(ac.ccos) AS bcos
        | FROM ac JOIN asg ON ac.vec_id = asg.vec_id
        | WHERE ac.label <> asg.cell GROUP BY 1)
        |SELECT own.vec_id, CAST(own.cell AS BIGINT) AS cell,
        | round(acos, 4) AS a_cos, round(bcos, 4) AS b_cos,
        | round((acos - bcos) / nullif(greatest(1.0 - acos, 1.0 - bcos),
        |   0.0), 4) AS silhouette
        |FROM own JOIN oth ON own.vec_id = oth.vec_id""".stripMargin,
    // q335: every rule is integer arithmetic over the split tokens.
    "q335_gopher_rules" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  length(replace(text, ' ', '')) AS n_word_chars FROM documents),
        |m AS (SELECT doc_id, len(toks) AS n_words, n_word_chars,
        |  len(list_filter(toks, x -> x IN ('the', 'of', 'and', 'to',
        |    'a', 'in', 'is', 'for'))) AS n_stop,
        |  len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
        |    AS n_alpha,
        |  CASE WHEN len(toks) >= 2 THEN len(list_filter(
        |    range(len(toks) - 1), i -> toks[i+1] = toks[i+2]))
        |   ELSE 0 END AS n_rep
        | FROM t)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        | CAST(n_stop AS BIGINT) AS n_stop,
        | CAST(n_alpha AS BIGINT) AS n_alpha,
        | CAST(n_rep AS BIGINT) AS n_rep,
        | n_words BETWEEN 20 AND 100000 AS ok_count,
        | (n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10)
        |   AS ok_word_len,
        | n_stop * 100 >= n_words * 5 AS ok_stopwords,
        | n_alpha * 100 >= n_words * 80 AS ok_alpha,
        | (n_rep * 100 < (n_words - 1) * 20 OR n_words < 2)
        |   AS ok_repetition,
        | (n_words BETWEEN 20 AND 100000)
        |  AND (n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10)
        |  AND n_stop * 100 >= n_words * 5
        |  AND n_alpha * 100 >= n_words * 80
        |  AND (n_rep * 100 < (n_words - 1) * 20 OR n_words < 2)
        |   AS pass_all
        |FROM m""".stripMargin,
    // q336: hashed 13-grams; benchmark side distinct; per-doc agg.
    "q336_ngram_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(
        |   range(len(toks) - 12),
        |   i -> md5(list_aggregate(toks[i+1:i+13], 'string_agg', ' '))))
        |  AS g
        | FROM t WHERE len(toks) >= 13),
        |b AS (SELECT DISTINCT g FROM g WHERE doc_id % 2 = 0),
        |j AS (SELECT g.doc_id, count(*) AS n_grams,
        |  sum(CASE WHEN b.g IS NULL THEN 0 ELSE 1 END) AS n_hits
        | FROM g LEFT JOIN b ON g.g = b.g WHERE g.doc_id % 2 = 1
        | GROUP BY 1)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        | CAST(n_hits AS BIGINT) AS n_hits, n_hits > 0 AS contaminated,
        | CAST(n_hits * 1000000 // n_grams AS BIGINT) AS contaminated_ppm
        |FROM j""".stripMargin,
    // q337: the SemDeDup replay — same ivf CTEs as q334; the greedy
    // order (ccos ASC, vec_id) and the pair verify are both fixed
    // IEEE expressions over exact integers, so rank and removal
    // match bit-for-bit.
    "q337_semdedup" ->
      s"""WITH $ivfScoreCtes,
        |own AS (SELECT ac.vec_id, asg.cell, ac.ccos
        | FROM ac JOIN asg ON ac.vec_id = asg.vec_id
        | WHERE ac.label = asg.cell),
        |rk AS (SELECT o.vec_id, o.cell, o.ccos, a.v, a.n2,
        |  row_number() OVER (PARTITION BY o.cell
        |    ORDER BY o.ccos, o.vec_id) AS rk
        | FROM own o JOIN asg a ON o.vec_id = a.vec_id),
        |dup AS (SELECT b.vec_id, count(*) AS n_dup
        | FROM rk a JOIN rk b ON a.cell = b.cell AND a.rk < b.rk
        | WHERE $cosExpr >= 0.4
        | GROUP BY 1)
        |SELECT rk.vec_id, CAST(rk.cell AS BIGINT) AS cell,
        | round(rk.ccos, 4) AS c_cos,
        | CAST(coalesce(dup.n_dup, 0) AS BIGINT) AS n_dup_earlier,
        | coalesce(dup.n_dup, 0) > 0 AS removed
        |FROM rk LEFT JOIN dup ON rk.vec_id = dup.vec_id""".stripMargin,
    // q338: both engines rank the identical integer score_micro;
    // the tercile is integer quota arithmetic.
    "q338_ccnet_buckets" ->
      """WITH b AS (SELECT doc_id, unnest(list_transform(
        |   range(len(string_split(text, ' ')) - 1),
        |   i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS bg
        | FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |f AS (SELECT bg, count(*) AS cnt FROM b GROUP BY bg),
        |sc AS (SELECT doc_id,
        |  CAST(round(avg(log10(cnt)) * 10000) AS BIGINT) AS score_micro,
        |  count(*) AS n_bigrams
        | FROM b JOIN f USING (bg) GROUP BY doc_id),
        |sl AS (SELECT sc.*, d.lang FROM sc JOIN documents d USING (doc_id)),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY lang
        |   ORDER BY score_micro DESC, doc_id) AS rk,
        |  count(*) OVER (PARTITION BY lang) AS n FROM sl)
        |SELECT doc_id, lang, score_micro,
        | CAST(n_bigrams AS BIGINT) AS n_bigrams,
        | CAST(rk AS BIGINT) AS lang_rank,
        | CASE WHEN (rk - 1) * 3 // n = 0 THEN 'head'
        |  WHEN (rk - 1) * 3 // n = 1 THEN 'middle'
        |  ELSE 'tail' END AS bucket
        |FROM rk""".stripMargin,
    // q339: DuckDB GROUPING() shares the ANSI bitmask convention
    // with Spark's grouping_id().
    "q339_grouping_sets" ->
      """WITH o AS (SELECT o_orderpriority,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice
        | FROM orders)
        |SELECT o_orderpriority, o_year,
        | CAST(GROUPING(o_orderpriority, o_year) AS BIGINT) AS gid,
        | count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM o GROUP BY GROUPING SETS ((o_orderpriority, o_year),
        | (o_orderpriority), (o_year), ())""".stripMargin,
    // q340: the estimates are merge-order-dependent but the carried
    // worst-case bound is not (q331's argument, tie-correct interval
    // form) — the oracle pins within_bound = 1 on every (qualifier,
    // quantile) and the exact per-type counts.
    "q340_stream_kll" ->
      """WITH qs AS (SELECT unnest([10, 250, 500, 750, 990]) AS q),
        |t AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1)
        |SELECT t.event_type AS qualifier, CAST(q AS BIGINT) AS q_milli,
        | CAST(n AS BIGINT) AS n, CAST(1 AS BIGINT) AS within_bound
        |FROM t, qs""".stripMargin,
    "q341_hits" -> hitsOracle,
    "q342_lsh_planner" -> lshPlannerOracle,
    // q343: relevance = exact top-3; ranking = the IVF order from
    // the shared ivf CTEs; reciprocal as integer ppm.
    "q343_mrr" ->
      s"""WITH $ivfScoreCtes,
        |exsc AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  $cosExpr AS cosine
        | FROM m a JOIN m b ON a.vec_id < 5 AND b.vec_id >= 5),
        |ex AS (SELECT query_id, neighbor_id FROM (
        | SELECT query_id, neighbor_id, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        | FROM exsc) t WHERE rank <= 3),
        |iv AS (SELECT query_id, neighbor_id, rank FROM (
        | SELECT query_id, neighbor_id, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        | FROM sc) t WHERE rank <= 3),
        |h AS (SELECT iv.query_id, min(iv.rank) AS r
        | FROM iv JOIN ex ON iv.query_id = ex.query_id
        |  AND iv.neighbor_id = ex.neighbor_id GROUP BY 1)
        |SELECT q.query_id, CAST(coalesce(h.r, 0) AS BIGINT)
        |  AS first_hit_rank,
        | CAST(coalesce(1000000 // h.r, 0) AS BIGINT) AS rr_ppm
        |FROM (SELECT DISTINCT query_id FROM ex) q
        |LEFT JOIN h USING (query_id)""".stripMargin,
    // q344: per-doc n-gram multisets replayed with list arithmetic.
    "q344_intradoc_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |m AS (SELECT doc_id, len(tk) AS n,
        |  CASE WHEN len(tk) >= 2 THEN len(list_distinct(list_transform(
        |    range(len(tk) - 1),
        |    i -> array_to_string(tk[i+1:i+2], ' ')))) ELSE 0 END AS d2,
        |  CASE WHEN len(tk) >= 3 THEN len(list_distinct(list_transform(
        |    range(len(tk) - 2),
        |    i -> array_to_string(tk[i+1:i+3], ' ')))) ELSE 0 END AS d3
        | FROM t)
        |SELECT doc_id,
        | CAST(CASE WHEN n >= 2 THEN n - 1 ELSE 0 END AS BIGINT) AS n2_grams,
        | CAST(d2 AS BIGINT) AS n2_distinct,
        | CAST(coalesce((CASE WHEN n >= 2 THEN n - 1 ELSE 0 END - d2)
        |   * 1000000 // nullif(CASE WHEN n >= 2 THEN n - 1 ELSE 0 END, 0),
        |  0) AS BIGINT) AS dup2_ppm,
        | CAST(CASE WHEN n >= 3 THEN n - 2 ELSE 0 END AS BIGINT) AS n3_grams,
        | CAST(d3 AS BIGINT) AS n3_distinct,
        | CAST(coalesce((CASE WHEN n >= 3 THEN n - 2 ELSE 0 END - d3)
        |   * 1000000 // nullif(CASE WHEN n >= 3 THEN n - 2 ELSE 0 END, 0),
        |  0) AS BIGINT) AS dup3_ppm
        |FROM m""".stripMargin,
    // q345: the overlapping band table as VALUES; BETWEEN join.
    "q345_price_band_join" ->
      """WITH p AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |b(band, lo, hi) AS (VALUES
        | ('p0_under_1k', 0, 99999),
        | ('p1_1k_50k', 100000, 4999999),
        | ('p2_50k_200k', 5000000, 19999999),
        | ('p3_over_200k', 20000000, 99999999),
        | ('px_mid_market', 2500000, 29999999))
        |SELECT band, count(*) AS n_orders,
        | CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM p JOIN b ON p.cents BETWEEN b.lo AND b.hi
        |GROUP BY band""".stripMargin,
    // q346: both windows replayed as count tables; identical counts
    // feed the identical per-row log difference.
    "q346_cond_bigram_lm" ->
      """WITH b AS (SELECT doc_id, unnest(list_transform(
        |   range(len(string_split(text, ' ')) - 1),
        |   i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS bg
        | FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |f AS (SELECT bg, count(*) AS cbg FROM b GROUP BY bg),
        |w AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS cw1
        | FROM b GROUP BY 1)
        |SELECT doc_id,
        | round(avg(log10(f.cbg) - log10(w.cw1)), 4) AS cond_lm_score,
        | count(*) AS n_bigrams
        |FROM b JOIN f USING (bg)
        |JOIN w ON string_split(b.bg, ' ')[1] = w.w1
        |GROUP BY doc_id""".stripMargin,
    // q347: IVF top-3 (shared ctes) expanded to the q217 chunk
    // replay, greedily packed by a pinned-ROWS running sum.
    "q347_rag_pack" ->
      s"""WITH $ivfScoreCtes,
        |iv AS (SELECT query_id, neighbor_id, rank FROM (
        | SELECT query_id, neighbor_id, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        | FROM sc) t WHERE rank <= 3),
        |db AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |dn AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM db),
        |dc AS (SELECT doc_id, toks, n, unnest(range(0,
        |   1 + CASE WHEN n > 128 THEN (n - 128 + 95) // 96 ELSE 0 END))
        |   AS chunk_id FROM dn),
        |cm AS (SELECT doc_id, chunk_id,
        |  CAST(least(128, n - chunk_id * 96) AS BIGINT) AS n_toks,
        |  md5(array_to_string(toks[CAST(chunk_id * 96 + 1 AS INTEGER) :
        |    CAST(chunk_id * 96 + least(128, n - chunk_id * 96) AS INTEGER)],
        |    ' ')) AS chunk_hash
        | FROM dc),
        |pk AS (SELECT iv.query_id, iv.rank, cm.doc_id, cm.chunk_id,
        |  cm.n_toks, cm.chunk_hash,
        |  sum(cm.n_toks) OVER (PARTITION BY iv.query_id
        |    ORDER BY iv.rank, cm.chunk_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        | FROM iv JOIN cm ON iv.neighbor_id = cm.doc_id)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
        | CAST(chunk_id AS BIGINT) AS chunk_id, n_toks,
        | CAST(cum_tokens AS BIGINT) AS cum_tokens, chunk_hash
        |FROM pk WHERE cum_tokens <= 512""".stripMargin,
    // q348: the q59 component replay + per-doc PII regexes, rolled
    // to the cluster grain.
    "q348_cluster_pii" ->
      s"""WITH RECURSIVE $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM c UNION SELECT d2, d1 FROM c),
        |r AS (SELECT v, u FROM adj
        | UNION SELECT r.v, adj.u FROM r, adj WHERE r.u = adj.v),
        |comp AS (SELECT v AS doc_id, least(v, min(u)) AS component
        | FROM r GROUP BY v),
        |fl AS (SELECT doc_id,
        |  (len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
        |   + len(regexp_extract_all(text,
        |    '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}'))
        |   + len(regexp_extract_all(text, '[0-9]{9,}'))) > 0 AS direct
        | FROM documents)
        |SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN direct THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_flagged,
        | sum(CASE WHEN direct THEN 1 ELSE 0 END) > 0 AS cluster_flagged,
        | CAST(CASE WHEN sum(CASE WHEN direct THEN 1 ELSE 0 END) > 0
        |  THEN count(*) - sum(CASE WHEN direct THEN 1 ELSE 0 END)
        |  ELSE 0 END AS BIGINT) AS n_inherited
        |FROM comp JOIN fl USING (doc_id)
        |GROUP BY component""".stripMargin,
    // q349: q20 keeper + q59 components + disjoint-axis accounting,
    // rolled up per source.
    "q349_effective_tokens" ->
      s"""WITH RECURSIVE $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM c UNION SELECT d2, d1 FROM c),
        |r AS (SELECT v, u FROM adj
        | UNION SELECT r.v, adj.u FROM r, adj WHERE r.u = adj.v),
        |comp AS (SELECT v AS doc_id, least(v, min(u)) AS component
        | FROM r GROUP BY v),
        |d AS (SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntk,
        |  md5(text) AS h FROM documents),
        |kp AS (SELECT h, min(doc_id) AS keep_id FROM d GROUP BY h),
        |g AS (SELECT d.doc_id, d.source, d.ntk,
        |  d.doc_id <> kp.keep_id AS exact_dup,
        |  (d.doc_id = kp.keep_id) AND
        |    coalesce(comp.component <> d.doc_id, false) AS near_dup
        | FROM d JOIN kp USING (h)
        | LEFT JOIN comp ON comp.doc_id = d.doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(ntk) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN exact_dup THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_exact_removed,
        | CAST(sum(CASE WHEN near_dup THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_near_removed,
        | CAST(sum(CASE WHEN NOT exact_dup AND NOT near_dup THEN 1 ELSE 0
        |   END) AS BIGINT) AS n_effective_docs,
        | CAST(sum(CASE WHEN NOT exact_dup AND NOT near_dup THEN ntk
        |   ELSE 0 END) AS BIGINT) AS effective_tokens,
        | CAST(sum(CASE WHEN NOT exact_dup AND NOT near_dup THEN ntk
        |   ELSE 0 END) * 1000000 // sum(ntk) AS BIGINT) AS yield_ppm
        |FROM g GROUP BY source""".stripMargin,
    // q350: signature match count vs the q21 exact jaccard, ppm.
    "q350_minhash_estimator" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |e AS (SELECT doc_id, unnest(sh) AS s FROM t),
        |cp AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        | FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |z AS (SELECT doc_id, len(sh) AS n FROM t),
        |ex AS (SELECT d1, d2,
        |  CAST(common AS DOUBLE) / (za.n + zb.n - common) AS jaccard
        | FROM cp JOIN z za ON d1 = za.doc_id JOIN z zb ON d2 = zb.doc_id
        | WHERE CAST(common AS DOUBLE) / (za.n + zb.n - common) >= 0.5),
        |m AS (SELECT ex.d1, ex.d2,
        |  CAST(round(ex.jaccard * 1000000) AS BIGINT) AS jaccard_ppm,
        |  CAST(${(0 until 8).map(i =>
            s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")}
        |   AS BIGINT) AS matches
        | FROM ex JOIN sig a ON ex.d1 = a.doc_id
        | JOIN sig b ON ex.d2 = b.doc_id)
        |SELECT d1, d2, jaccard_ppm, matches, matches * 125000 AS est_ppm,
        | abs(matches * 125000 - jaccard_ppm) AS abs_err_ppm
        |FROM m""".stripMargin,
    // q351: identical md5 position sampling + offset-window pairs.
    "q351_skipgram_pairs" ->
      s"""WITH pos AS (SELECT doc_id,
        |  generate_subscripts(string_split(text, ' '), 1) - 1 AS p,
        |  unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (SELECT w, count(*) AS cnt FROM pos GROUP BY w),
        |tt AS (SELECT sum(cnt) AS n_total FROM f),
        |th AS (SELECT w, least(1000000,
        |  CAST(round(sqrt(0.001 * n_total / cnt) * 1000000) AS BIGINT))
        |   AS keep_ppm FROM f, tt),
        |kp AS (SELECT pos.doc_id, pos.p, pos.w
        | FROM pos JOIN th USING (w)
        | WHERE ${hex8Sql("concat('sg|', doc_id, '|', p)")} % 1000000
        |   < keep_ppm),
        |pr AS (SELECT a.w AS center, b.w AS context
        | FROM kp a JOIN kp b ON a.doc_id = b.doc_id
        |  AND b.p - a.p BETWEEN -2 AND 2 AND a.p <> b.p)
        |SELECT center, context, count(*) AS n FROM pr GROUP BY 1, 2
        |ORDER BY n DESC, center, context LIMIT 20""".stripMargin,
    // q352: cnt^0.75 as sqrt(cnt*sqrt(cnt)) — never libm pow —
    // micro-rounded to integer weights before the ppm division.
    "q352_negative_sampling" ->
      """WITH pos AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |f AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM pos GROUP BY w),
        |wt AS (SELECT w, cnt,
        |  CAST(round(sqrt(cnt * sqrt(cnt)) * 1000000) AS BIGINT) AS w_fixed
        | FROM f),
        |tt AS (SELECT sum(w_fixed) AS tot FROM wt),
        |top AS (SELECT w, cnt, w_fixed,
        |  CAST(w_fixed * 1000000 // tot AS BIGINT) AS prob_ppm
        | FROM wt, tt ORDER BY cnt DESC, w LIMIT 30)
        |SELECT w, cnt, w_fixed, prob_ppm,
        | CAST(sum(prob_ppm) OVER (ORDER BY cnt DESC, w
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS cum_ppm
        |FROM top""".stripMargin,
    // q353: add-one-smoothed TV over 4096 hashed buckets; numerator
    // exact integer cross-multiply, one final double division.
    "q353_source_divergence" ->
      s"""WITH tk AS (SELECT source, ${hex8Sql("w")} % 4096 AS b
        | FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |   FROM documents)),
        |sb AS (SELECT source, b, CAST(count(*) AS BIGINT) AS c_sb
        | FROM tk GROUP BY 1, 2),
        |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        | FROM tk GROUP BY 1),
        |cb AS (SELECT b, CAST(count(*) AS BIGINT) AS c_b FROM tk GROUP BY 1),
        |ct AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tk),
        |g AS (SELECT s2.source, s2.n_s, s2.b,
        |  coalesce(sb.c_sb, 0) AS c_sb, coalesce(cb.c_b, 0) AS c_b
        | FROM (SELECT st.source, st.n_s, r.b FROM st
        |   CROSS JOIN (SELECT unnest(range(4096)) AS b) r) s2
        | LEFT JOIN sb ON sb.source = s2.source AND sb.b = s2.b
        | LEFT JOIN cb ON cb.b = s2.b),
        |a AS (SELECT g.source, g.n_s AS n_tokens,
        |  sum(abs((g.c_sb + 1) * (ct.n + 4096)
        |    - (g.c_b + 1) * (g.n_s + 4096))) AS ss,
        |  sum(CASE WHEN g.c_sb > 0 THEN 1 ELSE 0 END) AS nb,
        |  max(ct.n) AS n
        | FROM g, ct GROUP BY 1, 2)
        |SELECT source, n_tokens, CAST(nb AS BIGINT) AS n_buckets,
        | CAST(round(1000000.0 * CAST(ss AS DOUBLE)
        |   / (2.0 * (n_tokens + 4096) * (n + 4096))) AS BIGINT) AS tv_ppm
        |FROM a""".stripMargin,
    // q354: 3 unrolled greedy rounds off the c0 = min-vec_id seed;
    // d² exact integer; argmax total-ordered by (mind2 desc, id).
    "q354_kcenter_coreset" -> {
      def dotSql(a: String, b: String) =
        s"list_sum(list_transform(range(64), i -> $a.v[i+1] * $b.v[i+1]))"
      s"""WITH $quantCte,
        |c0 AS (SELECT vec_id, v, n2, CAST(0 AS BIGINT) AS mind2
        | FROM m ORDER BY vec_id LIMIT 1),
        |e0 AS (SELECT m.vec_id, m.v, m.n2,
        |  CAST(m.n2 + c0.n2 - 2 * ${dotSql("m", "c0")} AS BIGINT) AS mind2
        | FROM m, c0),
        |c1 AS (SELECT * FROM e0 ORDER BY mind2 DESC, vec_id LIMIT 1),
        |e1 AS (SELECT e0.vec_id, e0.v, e0.n2, least(e0.mind2,
        |  CAST(e0.n2 + c1.n2 - 2 * ${dotSql("e0", "c1")} AS BIGINT)) AS mind2
        | FROM e0, c1),
        |c2 AS (SELECT * FROM e1 ORDER BY mind2 DESC, vec_id LIMIT 1),
        |e2 AS (SELECT e1.vec_id, e1.v, e1.n2, least(e1.mind2,
        |  CAST(e1.n2 + c2.n2 - 2 * ${dotSql("e1", "c2")} AS BIGINT)) AS mind2
        | FROM e1, c2),
        |c3 AS (SELECT * FROM e2 ORDER BY mind2 DESC, vec_id LIMIT 1)
        |SELECT CAST(0 AS BIGINT) AS sel_order, vec_id, mind2 AS d2 FROM c0
        |UNION ALL SELECT CAST(1 AS BIGINT), vec_id, mind2 FROM c1
        |UNION ALL SELECT CAST(2 AS BIGINT), vec_id, mind2 FROM c2
        |UNION ALL SELECT CAST(3 AS BIGINT), vec_id, mind2 FROM c3""".stripMargin
    },
    // q355: per-bucket surprisal micro-rounded BEFORE the
    // multiply-accumulate; all-positive integer mean.
    "q355_domain_transfer" ->
      s"""WITH bg AS (SELECT source, ${hex8Sql("bg")} % 4096 AS b
        | FROM (SELECT source, unnest(list_transform(
        |    range(len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i+1] || ' ' ||
        |      string_split(text, ' ')[i+2])) AS bg
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2)),
        |cn AS (SELECT source, b, CAST(count(*) AS BIGINT) AS c
        | FROM bg GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        | FROM bg GROUP BY 1),
        |gr AS (SELECT s2.source, s2.n, s2.b, coalesce(cn.c, 0) AS c
        | FROM (SELECT ns.source, ns.n, r.b FROM ns
        |   CROSS JOIN (SELECT unnest(range(4096)) AS b) r) s2
        | LEFT JOIN cn ON cn.source = s2.source AND cn.b = s2.b),
        |lm AS (SELECT source AS src_lm, b,
        |  CAST(round(1000000 * log10(CAST(n + 4096 AS DOUBLE)
        |    / CAST(c + 1 AS DOUBLE))) AS BIGINT) AS nlogp
        | FROM gr),
        |x AS (SELECT g.source AS src_corpus, lm.src_lm,
        |  max(g.n) AS n_r, sum(g.c * lm.nlogp) AS ssum
        | FROM gr g JOIN lm ON g.b = lm.b GROUP BY 1, 2),
        |y AS (SELECT src_corpus, src_lm,
        |  CAST(ssum // n_r AS BIGINT) AS xent_e6 FROM x),
        |z AS (SELECT *, row_number() OVER (PARTITION BY src_corpus
        |  ORDER BY xent_e6, src_lm) AS rn FROM y)
        |SELECT src_corpus, src_lm, xent_e6, rn = 1 AS is_best_lm
        |FROM z""".stripMargin,
    // q356: wedge candidates at distance 2 in the co-purchase
    // graph, anti-joined against the q141 edge set; neighbor-
    // Jaccard in exact integer ppm.
    "q356_link_prediction" ->
      """WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |c AS (SELECT a.l_partkey AS d1, b.l_partkey AS d2
        | FROM it a JOIN it b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT d1 AS v, d2 AS u FROM c UNION ALL SELECT d2, d1 FROM c),
        |dg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg
        | FROM adj GROUP BY 1),
        |w AS (SELECT a.u AS v, b.u AS u, CAST(count(*) AS BIGINT) AS common
        | FROM adj a JOIN adj b ON a.v = b.v AND a.u < b.u GROUP BY 1, 2),
        |ne AS (SELECT w.v, w.u, w.common FROM w
        | LEFT JOIN c ON c.d1 = w.v AND c.d2 = w.u WHERE c.d1 IS NULL)
        |SELECT ne.v AS part_a, ne.u AS part_b, common, dv.deg AS deg_v,
        | du.deg AS deg_u,
        | CAST(common * 1000000 // (dv.deg + du.deg - common) AS BIGINT)
        |  AS jacc_ppm
        |FROM ne JOIN dg dv ON dv.v = ne.v JOIN dg du ON du.v = ne.u
        |ORDER BY jacc_ppm DESC, part_a, part_b LIMIT 20""".stripMargin,
    // q360: q350's pairs estimated from the first k of 8 hashes;
    // per-pair micro-rounding, integer means (order-free).
    "q360_minhash_k_sweep" -> {
      def mSql(k: Int) = "CAST(" + (0 until k).map(i =>
        s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ") +
        " AS BIGINT)"
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |e AS (SELECT doc_id, unnest(sh) AS s FROM t),
        |cp AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        | FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |z AS (SELECT doc_id, len(sh) AS n FROM t),
        |ex AS (SELECT d1, d2,
        |  CAST(common AS DOUBLE) / (za.n + zb.n - common) AS jaccard
        | FROM cp JOIN z za ON d1 = za.doc_id JOIN z zb ON d2 = zb.doc_id
        | WHERE CAST(common AS DOUBLE) / (za.n + zb.n - common) >= 0.5),
        |m AS (SELECT ex.jaccard, ${mSql(2)} AS m2, ${mSql(4)} AS m4,
        |  ${mSql(8)} AS m8
        | FROM ex JOIN sig a ON ex.d1 = a.doc_id
        | JOIN sig b ON ex.d2 = b.doc_id),
        |st AS (SELECT jaccard, CAST(2 AS BIGINT) AS k, m2 AS mm FROM m
        | UNION ALL SELECT jaccard, 4, m4 FROM m
        | UNION ALL SELECT jaccard, 8, m8 FROM m),
        |er AS (SELECT k,
        |  abs(mm * (1000000 // k) - CAST(round(jaccard * 1000000) AS BIGINT))
        |   AS err,
        |  CAST(round(sqrt(jaccard * (1 - jaccard) / k) * 1000000) AS BIGINT)
        |   AS asd
        | FROM st)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(err) // count(*) AS BIGINT) AS mean_abs_err_ppm,
        | max(err) AS max_abs_err_ppm,
        | CAST(sum(asd) // count(*) AS BIGINT) AS analytic_sd_ppm
        |FROM er GROUP BY k""".stripMargin
    },
    // q358: cross-source band candidates, exact-jaccard verify,
    // per-endpoint argmax by (jacc desc, partner asc), mutual join.
    "q358_reciprocal_match" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |sd AS (SELECT doc_id, source FROM documents),
        |cc AS (SELECT c.d1, c.d2 FROM c
        | JOIN sd s1 ON s1.doc_id = c.d1 JOIN sd s2 ON s2.doc_id = c.d2
        | WHERE s1.source <> s2.source),
        |z AS (SELECT doc_id, sh, len(sh) AS n FROM t),
        |v AS (SELECT cc.d1, cc.d2,
        |  CAST(round(CAST(len(list_intersect(za.sh, zb.sh)) AS DOUBLE)
        |    / (za.n + zb.n - len(list_intersect(za.sh, zb.sh)))
        |    * 1000000) AS BIGINT) AS jacc_ppm
        | FROM cc JOIN z za ON za.doc_id = cc.d1
        |  JOIN z zb ON zb.doc_id = cc.d2),
        |sym AS (SELECT d1 AS a, d2 AS b, jacc_ppm FROM v
        | UNION ALL SELECT d2, d1, jacc_ppm FROM v),
        |bst AS (SELECT a, b, jacc_ppm FROM (SELECT a, b, jacc_ppm,
        |   row_number() OVER (PARTITION BY a
        |     ORDER BY jacc_ppm DESC, b) AS rn FROM sym) t2 WHERE rn = 1)
        |SELECT x.a AS d1, sd1.source AS src1, y.a AS d2,
        | sd2.source AS src2, x.jacc_ppm
        |FROM bst x JOIN bst y ON x.b = y.a AND y.b = x.a AND x.a < y.a
        |JOIN sd sd1 ON sd1.doc_id = x.a
        |JOIN sd sd2 ON sd2.doc_id = y.a""".stripMargin,
    // q359: q99's assignment chain; top-5 within-cell neighbors by
    // (cosine desc, id), majority with ties to the smallest label.
    "q359_label_noise" ->
      """WITH q AS (SELECT vec_id, label, list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        | FROM embeddings),
        |m AS (SELECT vec_id, label, v,
        |  CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM q),
        |cu AS (SELECT label, unnest(v) AS x,
        |  generate_subscripts(v, 1) - 1 AS pos FROM q),
        |cs AS (SELECT label, pos, sum(x) AS sx, count(*) AS nv
        | FROM cu GROUP BY 1, 2),
        |cl AS (SELECT label,
        |  list(CAST(trunc(CAST(sx AS DOUBLE) / nv) AS BIGINT) ORDER BY pos) AS cv
        | FROM cs GROUP BY label),
        |cn AS (SELECT label, cv,
        |  CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS cn2 FROM cl),
        |ac AS (SELECT m.vec_id, m.v, m.n2, cn.label,
        |  CAST(CAST(list_sum(list_transform(range(64), i -> m.v[i+1] * cn.cv[i+1])) AS BIGINT) AS DOUBLE)
        |   / (sqrt(CAST(m.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE))) AS ccos
        | FROM m, cn),
        |asg AS (SELECT vec_id, v, n2, cell FROM (SELECT vec_id, v, n2,
        |   label AS cell, row_number() OVER (PARTITION BY vec_id
        |     ORDER BY ccos DESC, label) AS rk FROM ac) t WHERE rk = 1),
        |nb AS (SELECT a.vec_id, b.vec_id AS nb_id,
        |  CAST(CAST(list_sum(list_transform(range(64), i -> a.v[i+1] * b.v[i+1])) AS BIGINT) AS DOUBLE)
        |   / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
        | FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |tp AS (SELECT vec_id, nb_id FROM (SELECT vec_id, nb_id,
        |   row_number() OVER (PARTITION BY vec_id
        |     ORDER BY cos DESC, nb_id) AS rk FROM nb) t WHERE rk <= 5),
        |lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |tl AS (SELECT tp.vec_id, lb.label AS nb_label FROM tp
        | JOIN lb ON lb.vec_id = tp.nb_id),
        |mc AS (SELECT vec_id, nb_label, CAST(count(*) AS BIGINT) AS cnt
        | FROM tl GROUP BY 1, 2),
        |mj AS (SELECT vec_id, nb_label AS majority_label, cnt AS n_majority
        | FROM (SELECT vec_id, nb_label, cnt, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cnt DESC, nb_label) AS rn FROM mc) t
        | WHERE rn = 1),
        |nn AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_neighbors
        | FROM tl GROUP BY 1)
        |SELECT lb.vec_id, lb.label, mj.majority_label,
        | coalesce(mj.n_majority, 0) AS n_majority,
        | coalesce(nn.n_neighbors, 0) AS n_neighbors,
        | coalesce(mj.majority_label <> lb.label, false) AS flagged
        |FROM lb LEFT JOIN mj ON mj.vec_id = lb.vec_id
        |LEFT JOIN nn ON nn.vec_id = lb.vec_id""".stripMargin,
    // q357: directional rules; confidence/support exact ppm, lift
    // through HUGEINT (q256's overflow treatment).
    "q357_association_rules" ->
      """WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |fr AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS f
        | FROM it GROUP BY 1),
        |t AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
        |  AS n_orders FROM it),
        |p AS (SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
        |  CAST(count(*) AS BIGINT) AS n_both
        | FROM it a JOIN it b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey <> b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT antecedent, consequent, n_both,
        | CAST(n_both * 1000000 // n_orders AS BIGINT) AS support_ppm,
        | CAST(n_both * 1000000 // fa.f AS BIGINT) AS confidence_ppm,
        | CAST(CAST(n_both AS HUGEINT) * n_orders * 1000000
        |  // (CAST(fa.f AS HUGEINT) * fc.f) AS BIGINT) AS lift_micro
        |FROM p JOIN fr fa ON fa.l_partkey = antecedent
        | JOIN fr fc ON fc.l_partkey = consequent CROSS JOIN t
        |ORDER BY confidence_ppm DESC, lift_micro DESC,
        | antecedent, consequent LIMIT 20""".stripMargin,
    // q324: the maintained index must EQUAL the full recompute —
    // the oracle is q318's recursive BFS over ALL edges (the 80/20
    // split is internal to the incremental path; decrease-only
    // relaxation must land on the same fixpoint).
    "q324_bfs_delta" ->
      s"""WITH RECURSIVE $shinglesCte,
        |$minhashSigCte,
        |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM c UNION SELECT d2, d1 FROM c),
        |bfs AS (SELECT u AS v, CAST(0 AS BIGINT) AS hops
        |  FROM (SELECT DISTINCT u FROM adj) sd WHERE u % 10 = 0
        | UNION
        | SELECT a.v, b.hops + 1 FROM bfs b JOIN adj a ON a.u = b.v
        | WHERE b.hops < 4)
        |SELECT v AS doc_id, CAST(min(hops) AS BIGINT) AS hops
        |FROM bfs GROUP BY 1""".stripMargin,
    // q319: tie-aware doubled average ranks from the distinct-value
    // grids (2r = 2·below + ties + 1), exact HUGEINT moments, ρ as
    // one scalar IEEE expression — mirrors the Spark decimal math.
    "q319_spearman_price_demand" ->
      """WITH dm AS (SELECT l_partkey, CAST(sum(l_quantity) AS BIGINT)
        |  AS qty FROM lineitem GROUP BY 1),
        |b AS (SELECT p_partkey,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS pc,
        |  coalesce(dm.qty, 0) AS qty
        | FROM part LEFT JOIN dm ON p_partkey = dm.l_partkey),
        |rx AS (SELECT pc, 2 * (sum(cnt) OVER (ORDER BY pc
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
        |   + cnt + 1 AS rx2
        | FROM (SELECT pc, count(*) AS cnt FROM b GROUP BY 1) t),
        |ry AS (SELECT qty, 2 * (sum(cnt) OVER (ORDER BY qty
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
        |   + cnt + 1 AS ry2
        | FROM (SELECT qty, count(*) AS cnt FROM b GROUP BY 1) t),
        |j AS (SELECT rx.rx2, ry.ry2 FROM b
        | JOIN rx ON b.pc = rx.pc JOIN ry ON b.qty = ry.qty),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(rx2) AS HUGEINT) AS sx,
        |  CAST(sum(ry2) AS HUGEINT) AS sy,
        |  sum(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
        |  sum(CAST(ry2 AS HUGEINT) * ry2) AS syy,
        |  sum(CAST(rx2 AS HUGEINT) * ry2) AS sxy FROM j)
        |SELECT CAST(n AS BIGINT) AS n_parts,
        | CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0
        |  THEN NULL
        |  ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |   (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |    sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4) END
        |  AS spearman_rho
        |FROM m""".stripMargin,
    // q320: one division per nation (Σrev²·10⁶ // (Σrev)²) — the
    // truncation-once identity the Spark side uses.
    "q320_supplier_hhi" ->
      """WITH r AS (SELECT l_suppkey,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS rev
        | FROM lineitem GROUP BY 1)
        |SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
        | CAST(sum(rev) AS BIGINT) AS rev_cents,
        | CAST(sum(CAST(rev AS HUGEINT) * rev) * 1000000 //
        |   nullif(CAST(sum(rev) AS HUGEINT) * sum(rev), 0) AS BIGINT)
        |  AS hhi_ppm
        |FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        | JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1""".stripMargin,
    // q301: 3-d skyline replayed as the brute-force NOT EXISTS
    // dominance test (the oracle is unconstrained by plan shape).
    "q301_skyline_3d" ->
      """WITH d AS (SELECT l_partkey, CAST(sum(l_quantity) AS BIGINT)
        |  AS demand FROM lineitem GROUP BY 1),
        |p AS (SELECT p_partkey, p_brand,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |  CAST(p_size AS BIGINT) AS p_size,
        |  coalesce(d.demand, 0) AS demand
        | FROM part LEFT JOIN d ON p_partkey = l_partkey)
        |SELECT p_partkey, p_brand, price_cents, p_size, demand
        |FROM p x
        |WHERE NOT EXISTS (SELECT 1 FROM p q
        | WHERE q.price_cents <= x.price_cents AND q.p_size >= x.p_size
        |  AND q.demand >= x.demand
        |  AND (q.price_cents < x.price_cents OR q.p_size > x.p_size
        |   OR q.demand > x.demand))""".stripMargin,
    // q292: the interval sweep with ends-before-starts tie order;
    // per-instant cum sets are order-independent so the daily max is
    // well-defined (see the operator scaladoc).
    "q292_max_concurrency" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts FROM events),
        |lg AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id) AS prev_us FROM ev),
        |ns AS (SELECT user_id, ts, CASE WHEN prev_us IS NULL
        |   OR ts - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s FROM lg),
        |sd AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id
        |   ORDER BY ts) AS sid FROM ns),
        |sess AS (SELECT user_id, sid, min(ts) AS s_start, max(ts) + 1 AS s_end
        | FROM sd GROUP BY 1, 2),
        |d AS (SELECT s_start AS t, 1 AS delta FROM sess
        | UNION ALL SELECT s_end, -1 FROM sess),
        |c AS (SELECT t, delta, sum(delta) OVER (ORDER BY t, delta
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        | FROM d)
        |SELECT CAST(t // 86400000000 AS BIGINT) AS day,
        | CAST(max(conc) AS BIGINT) AS max_concurrent,
        | CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_starts
        |FROM c GROUP BY 1""".stripMargin,
    // q293: the Q19-shape disjunction; per-branch cents.
    "q293_disjunctive_revenue" ->
      """SELECT branch, CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))
        |   AS BIGINT) AS revenue_cents
        |FROM (SELECT CASE
        |   WHEN p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11
        |     AND p_size <= 5 THEN 'small'
        |   WHEN p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20
        |     AND p_size <= 10 THEN 'medium'
        |   WHEN p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30
        |     AND p_size <= 15 THEN 'large' END AS branch,
        |  l_extendedprice, l_discount
        | FROM lineitem JOIN part ON l_partkey = p_partkey)
        |WHERE branch IS NOT NULL GROUP BY 1""".stripMargin,
    // q294: NOT IN vs NOT EXISTS under an injected NULL - the
    // three-valued-logic pin; identical SQL semantics both engines.
    "q294_null_aware_antijoin" ->
      """SELECT
        | CAST((SELECT count(*) FROM part
        |   WHERE p_size NOT IN (SELECT nullif(n_nationkey, 13) FROM nation))
        |   AS BIGINT) AS n_not_in,
        | CAST((SELECT count(*) FROM part p
        |   WHERE NOT EXISTS (SELECT 1 FROM nation n
        |     WHERE nullif(n.n_nationkey, 13) = p.p_size)) AS BIGINT) AS n_not_exists,
        | CAST((SELECT count(*) FROM part) AS BIGINT) AS n_parts""".stripMargin,
    // q295: YoY contribution decomposition over the rollup grid;
    // both engines truncate integral division toward zero, so the
    // signed share ppm is parity-safe (probed).
    "q295_contribution_decomposition" ->
      """WITH g AS (SELECT r_name, n_name,
        |  sum(CASE WHEN year(o_orderdate) = 1997
        |    THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS y1_cents,
        |  sum(CASE WHEN year(o_orderdate) = 1998
        |    THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS y2_cents
        | FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        | WHERE year(o_orderdate) IN (1997, 1998)
        | GROUP BY ROLLUP (r_name, n_name)),
        |d AS (SELECT r_name, n_name, CAST(y1_cents AS BIGINT) AS y1_cents,
        |  CAST(y2_cents AS BIGINT) AS y2_cents,
        |  CAST(y2_cents - y1_cents AS BIGINT) AS delta_cents FROM g),
        |t AS (SELECT delta_cents AS total_delta FROM d
        | WHERE r_name IS NULL AND n_name IS NULL)
        |SELECT r_name, n_name, y1_cents, y2_cents, delta_cents,
        | CASE WHEN total_delta = 0 THEN NULL
        |   ELSE CAST(delta_cents * 1000000 // total_delta AS BIGINT) END AS share_ppm
        |FROM d CROSS JOIN t""".stripMargin,
    // q296: two-factor chi^2 by exact integer cross-multiplication;
    // HUGEINT squares, one division per grid cell.
    "q296_crosstab_independence" ->
      """WITH g AS (SELECT event_type,
        |  (epoch_us(ts) // 86400000000 + 4) % 7 AS dow, count(*) AS obs
        | FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, sum(obs) AS rt FROM g GROUP BY 1),
        |ct AS (SELECT dow, sum(obs) AS ct FROM g GROUP BY 1),
        |t AS (SELECT sum(obs) AS n FROM g)
        |SELECT g.event_type, CAST(g.dow AS BIGINT) AS dow,
        | CAST(g.obs AS BIGINT) AS obs, CAST(rt.rt AS BIGINT) AS rt,
        | CAST(ct.ct AS BIGINT) AS ct,
        | CAST((CAST(g.obs AS HUGEINT) * n - CAST(rt.rt AS HUGEINT) * ct.ct)
        |   * (CAST(g.obs AS HUGEINT) * n - CAST(rt.rt AS HUGEINT) * ct.ct)
        |   * 1000000 // (CAST(n AS HUGEINT) * rt.rt * ct.ct) AS BIGINT)
        |   AS chi2_contrib_micro
        |FROM g JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN t""".stripMargin,
    // q297: the ack-aware retention report replayed from the raw
    // events table + the q263 md5-fraction ack fixture: boundary =
    // min ts still needed past min(ack); the snapshot-key count is
    // what pins the REAL published snapshot artifact.
    "q297_ack_retention" -> {
      def ackSql(name: String): String =
        s"""SELECT '$name' AS subscription,
           | s0 + (s1 - s0) * (80 + ${hex8Sql(s"'ack|$name'")} % 20) // 100
           |   AS ack_seq FROM b""".stripMargin
      s"""WITH b AS (SELECT min(event_id) AS s0, max(event_id) AS s1
         |  FROM events),
         |a AS (${ackSql("sink_a")}
         | UNION ALL ${ackSql("sink_b")}
         | UNION ALL ${ackSql("sink_c")}),
         |m AS (SELECT min(ack_seq) AS min_ack FROM a),
         |bd AS (SELECT coalesce(
         |  (SELECT min(epoch_us(ts)) FROM events, m WHERE event_id > min_ack),
         |  (SELECT max(epoch_us(ts)) + 1 FROM events)) AS boundary),
         |dom AS (SELECT count(*) AS n_dominated,
         |  count(DISTINCT user_id) AS n_snapshot_keys
         | FROM events, bd WHERE epoch_us(ts) < boundary)
         |SELECT a.subscription, CAST(a.ack_seq AS BIGINT) AS ack_seq,
         | CAST((SELECT count(*) FROM events e WHERE e.event_id > a.ack_seq)
         |   AS BIGINT) AS n_pending,
         | a.ack_seq = m.min_ack AS holds_boundary,
         | CAST(bd.boundary AS BIGINT) AS boundary_ts,
         | CAST(dom.n_dominated AS BIGINT) AS n_dominated,
         | CAST(dom.n_snapshot_keys AS BIGINT) AS n_snapshot_keys
         |FROM a CROSS JOIN m CROSS JOIN bd CROSS JOIN dom""".stripMargin
    },
    // q245: the interval-overlap join replayed as a plain inequality
    // join (the oracle side is unconstrained by plan shape).
    "q245_session_overlap" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts
        |  FROM events),
        |lg AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id) AS prev_us FROM ev),
        |ns AS (SELECT user_id, ts, CASE WHEN prev_us IS NULL
        |   OR ts - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s
        | FROM lg),
        |sd AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id
        |   ORDER BY ts) AS sid FROM ns),
        |sess AS (SELECT user_id, sid, min(ts) AS s_start,
        |  max(ts) + 1 AS s_end FROM sd GROUP BY 1, 2),
        |dy AS (SELECT unnest(range(
        |   (SELECT min(ts) // 86400000000 FROM ev),
        |   (SELECT max(ts) // 86400000000 FROM ev) + 1)) AS day),
        |win AS (SELECT day, day * 86400000000 + 2 * 3600000000 AS w_start,
        |  day * 86400000000 + 4 * 3600000000 AS w_end FROM dy),
        |ovl AS (SELECT user_id, day,
        |  least(s_end, w_end) - greatest(s_start, w_start) AS ov
        | FROM sess JOIN win ON s_start < w_end AND w_start < s_end)
        |SELECT CAST(day AS BIGINT) AS day,
        | CAST(count(*) AS BIGINT) AS n_sessions,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(sum(ov) // 1000000 AS BIGINT) AS overlap_seconds
        |FROM ovl GROUP BY 1""".stripMargin,
    "q246_revenue_gini" ->
      """WITH pc AS (SELECT o_custkey,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        | FROM orders GROUP BY 1),
        |sg AS (SELECT c_mktsegment, cents, c_custkey
        | FROM pc JOIN customer ON o_custkey = c_custkey),
        |rk AS (SELECT c_mktsegment, cents,
        |  row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY cents, c_custkey) AS i,
        |  count(*) OVER (PARTITION BY c_mktsegment) AS n FROM sg)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
        | CAST(sum(cents) AS BIGINT) AS total_cents,
        | CAST((2 * sum(CAST(i AS HUGEINT) * cents)
        |    - (count(*) + 1) * CAST(sum(cents) AS HUGEINT)) * 1000
        |   // (count(*) * CAST(sum(cents) AS HUGEINT)) AS BIGINT)
        |   AS gini_milli,
        | CAST(sum(CASE WHEN i * 5 > n * 4 THEN CAST(cents AS HUGEINT)
        |     ELSE 0 END) * 1000000 // CAST(sum(cents) AS HUGEINT)
        |   AS BIGINT) AS top20_ppm
        |FROM rk GROUP BY 1""".stripMargin,
    // q247: the streaming state must replay as the batch as-of join
    // (q62's relation) — clicks at exactly the purchase ts visible,
    // (ts, id)-max tiebreak.
    "q247_stream_asof" ->
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id, epoch_us(ts) AS ts
        |  FROM events WHERE event_type = 'click')
        |SELECT user_id, purchase_id, purchase_ts, click_id, click_ts
        |FROM (
        | SELECT p.user_id, p.event_id AS purchase_id,
        |  p.ts AS purchase_ts, c.event_id AS click_id, c.ts AS click_ts,
        |  row_number() OVER (PARTITION BY p.event_id
        |    ORDER BY c.ts DESC, c.event_id DESC) AS rn
        | FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts) t
        |WHERE rn = 1""".stripMargin,
    // q248: the frequency-class collapse is exact — tokens within a
    // class are interchangeable, the crossing class contributes
    // ceil(remaining/f) entries.
    "q248_vocab_coverage" ->
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |ct AS (SELECT tok, count(*) AS n FROM tk WHERE tok <> ''
        | GROUP BY 1),
        |fcls AS (SELECT n AS f, count(*) AS n_toks, n * count(*) AS mass
        | FROM ct GROUP BY 1),
        |cum AS (SELECT f, n_toks, mass,
        |  coalesce(sum(mass) OVER (ORDER BY f DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS mass_above,
        |  coalesce(sum(n_toks) OVER (ORDER BY f DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS toks_above
        | FROM fcls),
        |tot AS (SELECT sum(mass) AS total_mass, sum(n_toks) AS vocab_total
        | FROM fcls),
        |p AS (SELECT unnest([50, 90, 99]) AS pct)
        |SELECT CAST(pct AS BIGINT) AS pct,
        | CAST((total_mass * pct + 99) // 100 AS BIGINT) AS target_mass,
        | CAST(toks_above + ((total_mass * pct + 99) // 100 - mass_above
        |    + f - 1) // f AS BIGINT) AS vocab_needed,
        | CAST(vocab_total AS BIGINT) AS vocab_total,
        | CAST((toks_above + ((total_mass * pct + 99) // 100 - mass_above
        |    + f - 1) // f) * 1000000 // vocab_total AS BIGINT) AS vocab_ppm
        |FROM p CROSS JOIN tot JOIN cum
        | ON mass_above < (total_mass * pct + 99) // 100
        |  AND (total_mass * pct + 99) // 100 <= mass_above + mass""".stripMargin,
    // q249: ONE plain join labeled by the same md5 split — the
    // quadrant decomposition must partition it exactly.
    "q249_ivm_join" ->
      s"""WITH a AS (SELECT o_orderkey, o_orderstatus,
        |  ${hex8Sql("concat('ivmA|', o_orderkey)")} < 2147483648 AS a_base
        | FROM orders),
        |b AS (SELECT l_orderkey,
        |  CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |    AS cents,
        |  ${hex8Sql("concat('ivmB|', l_orderkey, '|', l_linenumber)")}
        |    < 2147483648 AS b_base
        | FROM lineitem)
        |SELECT o_orderstatus,
        | CASE WHEN a_base AND b_base THEN 'base'
        |  WHEN NOT a_base AND b_base THEN 'delta_orders'
        |  WHEN a_base AND NOT b_base THEN 'delta_lines'
        |  ELSE 'both_delta' END AS quadrant,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM a JOIN b ON o_orderkey = l_orderkey GROUP BY 1, 2""".stripMargin,
    // q250: the KMV estimators replayed value-for-value (k = 16 —
    // sized so the 25-distinct-per-source corpus actually TRUNCATES
    // the sketches; 32-bit hash domain, complete-sketch fallback).
    "q250_kmv_overlap" ->
      s"""WITH v AS (SELECT DISTINCT source,
        |  ${hex8Sql("concat('kmv|', md5(text))")} AS h FROM documents),
        |cnt AS (SELECT source, count(*) AS n FROM v GROUP BY 1),
        |r AS (SELECT source, h, row_number() OVER (PARTITION BY source
        |   ORDER BY h) AS rk FROM v),
        |sk AS (SELECT source, h FROM r WHERE rk <= 16),
        |pr AS (SELECT a.source AS sa, b.source AS sb, a.n AS n_a, b.n AS n_b
        | FROM cnt a JOIN cnt b ON a.source < b.source),
        |uh AS (SELECT pr.sa, pr.sb, sk.h FROM pr JOIN sk
        |  ON sk.source = pr.sa OR sk.source = pr.sb GROUP BY 1, 2, 3),
        |ur AS (SELECT sa, sb, h, row_number() OVER (PARTITION BY sa, sb
        |   ORDER BY h) AS urk FROM uh),
        |uk AS (SELECT sa, sb, h FROM ur WHERE urk <= 16),
        |ust AS (SELECT sa, sb, count(*) AS usz, max(h) AS kth
        | FROM uk GROUP BY 1, 2),
        |mt AS (SELECT uk.sa, uk.sb, count(*) AS matches
        | FROM uk JOIN sk x ON x.source = uk.sa AND x.h = uk.h
        |  JOIN sk y ON y.source = uk.sb AND y.h = uk.h GROUP BY 1, 2),
        |ex AS (SELECT a.source AS sa, b.source AS sb,
        |  count(*) AS exact_intersection
        | FROM v a JOIN v b ON a.h = b.h AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT pr.sa AS source_a, pr.sb AS source_b,
        | CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        | CAST(CASE WHEN usz < 16 THEN usz
        |   ELSE (15 * 4294967296) // kth END AS BIGINT) AS est_union,
        | CAST(coalesce(matches, 0) * 1000000 // usz AS BIGINT)
        |   AS jaccard_ppm,
        | CAST((coalesce(matches, 0) * (CASE WHEN usz < 16 THEN usz
        |   ELSE (15 * 4294967296) // kth END)) // usz AS BIGINT)
        |   AS est_intersection,
        | CAST(coalesce(exact_intersection, 0) AS BIGINT)
        |   AS exact_intersection
        |FROM pr JOIN ust ON ust.sa = pr.sa AND ust.sb = pr.sb
        | LEFT JOIN mt ON mt.sa = pr.sa AND mt.sb = pr.sb
        | LEFT JOIN ex ON ex.sa = pr.sa AND ex.sb = pr.sb""".stripMargin,
    // q252: q163's exact hourly spike relation; the last present
    // hour is excluded — the watermark can never close it.
    "q252_stream_rate_spikes" ->
      """WITH hh AS (SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS n
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(epoch_us(ts)) // 3600000000 AS maxh FROM events),
        |w AS (SELECT h, n,
        |  CAST(sum(n) OVER (ORDER BY h
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s24,
        |  count(n) OVER (ORDER BY h
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS c24
        | FROM hh)
        |SELECT CAST(h AS BIGINT) AS h, CAST(n AS BIGINT) AS n, s24,
        | CAST((n * 24000000) // s24 AS BIGINT) AS ratio_ppm,
        | CAST(CASE WHEN (n * 24000000) // s24 > 2000000 THEN 1 ELSE 0 END
        |   AS BIGINT) AS spike
        |FROM w CROSS JOIN mx WHERE c24 = 24 AND h < maxh""".stripMargin,
    "q253_stl_decompose" ->
      """WITH hc AS (SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS cnt
        |  FROM events GROUP BY 1),
        |g AS (SELECT unnest(range((SELECT min(h) FROM hc),
        |  (SELECT max(h) FROM hc) + 1)) AS h),
        |f AS (SELECT g.h, coalesce(cnt, 0) AS x
        | FROM g LEFT JOIN hc ON g.h = hc.h),
        |w AS (SELECT h, x,
        |  sum(x) OVER (ORDER BY h
        |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS s25,
        |  count(x) OVER (ORDER BY h
        |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS c25 FROM f),
        |tr AS (SELECT h, x, x * 1000 - (s25 * 1000) // 25 AS detr_milli,
        |  h % 24 AS hod FROM w WHERE c25 = 25),
        |se AS (SELECT hod, sum(detr_milli) // count(*) AS seasonal_milli
        | FROM tr GROUP BY 1)
        |SELECT CAST(tr.hod AS BIGINT) AS hod,
        | CAST(count(*) AS BIGINT) AS n_hours,
        | CAST(max(seasonal_milli) AS BIGINT) AS seasonal_milli,
        | CAST(sum(abs(detr_milli - seasonal_milli)) // count(*) AS BIGINT)
        |   AS mean_abs_resid_milli,
        | CAST(max(abs(detr_milli - seasonal_milli)) AS BIGINT)
        |   AS max_abs_resid_milli
        |FROM tr JOIN se ON tr.hod = se.hod GROUP BY 1""".stripMargin,
    "q254_window_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts
        |  FROM events),
        |fv AS (SELECT user_id, min(ts) AS fv FROM e
        | WHERE event_type = 'view' GROUP BY 1),
        |per AS (SELECT fv.user_id, fv.fv,
        |  min(CASE WHEN p.ts >= fv.fv THEN p.ts END) AS conv
        | FROM fv LEFT JOIN (SELECT user_id, ts FROM e
        |   WHERE event_type = 'purchase') p ON fv.user_id = p.user_id
        | GROUP BY 1, 2),
        |d AS (SELECT fv // 86400000000 AS day,
        |  CASE WHEN conv IS NOT NULL AND conv - fv <= 86400000000
        |   THEN conv - fv END AS delay
        | FROM per)
        |SELECT CAST(day AS BIGINT) AS day,
        | CAST(count(*) AS BIGINT) AS n_users,
        | CAST(count(delay) AS BIGINT) AS n_conv,
        | CAST(count(delay) * 1000000 // count(*) AS BIGINT) AS cvr_ppm,
        | CAST(sum(delay) // (1000 * nullif(count(delay), 0)) AS BIGINT)
        |   AS mean_delay_ms
        |FROM d GROUP BY 1""".stripMargin,
    // q255: q23's simhash chain + q113's dhash chain joined per doc;
    // the alignment distance is their 64-bit hamming.
    "q255_alignment_filter" ->
      """WITH t1 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tk AS (SELECT doc_id, md5(tok) AS h FROM t1),
        |sb AS (SELECT doc_id, h, unnest(range(64)) AS bit FROM tk),
        |sv AS (SELECT doc_id, bit, sum(CASE WHEN
        |   (((strpos('0123456789abcdef', substr(h, CAST(bit // 4 AS INTEGER) + 1, 1)) - 1)
        |     >> CAST(bit % 4 AS INTEGER)) & 1) = 1
        |  THEN 1 ELSE -1 END) AS v FROM sb GROUP BY 1, 2),
        |sn AS (SELECT doc_id, bit // 4 AS j,
        |  sum(CASE WHEN v > 0 THEN (1 << CAST(bit % 4 AS INTEGER)) ELSE 0 END) AS nv
        | FROM sv GROUP BY 1, 2),
        |sh AS (SELECT doc_id, array_to_string(
        |  list(substr('0123456789abcdef', CAST(nv AS INTEGER) + 1, 1) ORDER BY j),
        |  '') AS simhash FROM sn GROUP BY doc_id),
        |db AS (SELECT doc_id,
        |  list_transform(range(1, 65), i ->
        |   CASE WHEN ascii(substr(text, CAST(i AS INTEGER), 1))
        |     < ascii(substr(text, CAST(i + 1 AS INTEGER), 1)) THEN 1 ELSE 0 END) AS bits
        | FROM documents WHERE len(text) >= 65),
        |dh AS (SELECT doc_id, array_to_string(list_transform(range(0, 16), j ->
        |   substr('0123456789abcdef',
        |     bits[CAST(j*4+1 AS INTEGER)]*8 + bits[CAST(j*4+2 AS INTEGER)]*4
        |     + bits[CAST(j*4+3 AS INTEGER)]*2 + bits[CAST(j*4+4 AS INTEGER)] + 1, 1)), '')
        |   AS dhash
        | FROM db),
        |pj AS (SELECT d.source,
        |  CAST(list_sum(list_transform(range(16), j -> bit_count(xor(
        |   CAST(strpos('0123456789abcdef', substr(dh.dhash, CAST(j+1 AS INTEGER), 1)) - 1 AS BIGINT),
        |   CAST(strpos('0123456789abcdef', substr(sh.simhash, CAST(j+1 AS INTEGER), 1)) - 1 AS BIGINT)))))
        |   AS BIGINT) AS dist
        | FROM dh JOIN sh ON dh.doc_id = sh.doc_id
        |  JOIN documents d ON d.doc_id = dh.doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(dist) * 1000 // count(*) AS BIGINT) AS mean_dist_milli,
        | CAST(max(dist) AS BIGINT) AS max_dist,
        | CAST(sum(CASE WHEN dist > 40 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_misaligned,
        | CAST(sum(CASE WHEN dist > 40 THEN 1 ELSE 0 END) * 1000000
        |   // count(*) AS BIGINT) AS misaligned_ppm
        |FROM pj GROUP BY 1""".stripMargin,
    // q256: exact integer lift; ties broken by partner id asc on
    // both engines.
    "q256_copurchase_topk" ->
      """WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |fr AS (SELECT l_partkey, count(*) AS f FROM it GROUP BY 1),
        |t AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM it),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |  count(*) AS n_pairs
        | FROM it a JOIN it b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |l AS (SELECT pa, pb,
        |  CAST(CAST(n_pairs AS HUGEINT) * n_orders * 1000000
        |   // (CAST(fa.f AS HUGEINT) * fb.f) AS BIGINT) AS lift_micro
        | FROM p JOIN fr fa ON fa.l_partkey = pa
        |  JOIN fr fb ON fb.l_partkey = pb CROSS JOIN t),
        |sym AS (SELECT pa AS part, pb AS partner, lift_micro FROM l
        | UNION ALL SELECT pb, pa, lift_micro FROM l),
        |r AS (SELECT part, partner, lift_micro, row_number() OVER (
        |  PARTITION BY part ORDER BY lift_micro DESC, partner) AS rank
        | FROM sym)
        |SELECT CAST(part AS BIGINT) AS part, CAST(rank AS BIGINT) AS rank,
        | CAST(partner AS BIGINT) AS partner, lift_micro
        |FROM r WHERE rank <= 3""".stripMargin,
    // q257: the CSV round-trip + quarantine must lose nothing — the
    // oracle computes the same report arithmetically.
    "q257_csv_ingest" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_quarantined,
        | CAST(sum(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE n_chars END)
        |   AS BIGINT) AS clean_chars
        |FROM documents GROUP BY 1""".stripMargin,
    // q258: layout + runtime pruning never change results.
    "q258_dynamic_pruning" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_cents
        |FROM events
        |WHERE ((epoch_us(ts) // 86400000000) + 4) % 7 IN (0, 6)
        |GROUP BY 1""".stripMargin,
    "q259_temporal_split" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
        |  FROM events),
        |c AS (SELECT t0 + (t1 - t0) * 8 // 10 AS cut FROM b),
        |u AS (SELECT user_id,
        |  sum(CASE WHEN epoch_us(ts) < cut THEN 1 ELSE 0 END) AS n_tr,
        |  sum(CASE WHEN epoch_us(ts) >= cut THEN 1 ELSE 0 END) AS n_te
        | FROM events CROSS JOIN c GROUP BY 1)
        |SELECT CASE WHEN n_tr > 0 AND n_te > 0 THEN 'both'
        |  WHEN n_tr > 0 THEN 'train_only' ELSE 'test_only' END AS class,
        | CAST(count(*) AS BIGINT) AS n_users,
        | CAST(sum(n_tr) AS BIGINT) AS n_train_events,
        | CAST(sum(n_te) AS BIGINT) AS n_test_events
        |FROM u GROUP BY 1""".stripMargin,
    // q260: the ±1 sign matrix is md5('jl|i|j') parity — replayed
    // cell-for-cell; every distance/ratio is integer.
    "q260_jl_projection" ->
      s"""WITH m AS (SELECT i.range AS i, j.range AS j,
        |  (${hex8Sql("concat('jl|', i.range, '|', j.range)")} & 1) * 2 - 1
        |    AS sgn
        | FROM range(64) i, range(16) j),
        |xm AS (SELECT vec_id, list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xm
        | FROM embeddings
        | WHERE ${hex8Sql("concat('jlv|', vec_id)")} % 5 = 0),
        |yx AS (SELECT vec_id, j, sum(xm[CAST(i + 1 AS INTEGER)] * sgn) AS y
        | FROM xm JOIN m ON true GROUP BY 1, 2),
        |yv AS (SELECT vec_id, list(y ORDER BY j) AS y FROM yx GROUP BY 1),
        |pr AS (SELECT a.vec_id AS a, b.vec_id AS b, a.xm AS xa, b.xm AS xb
        | FROM xm a JOIN xm b ON a.vec_id < b.vec_id
        | WHERE ${hex8Sql("concat('jlp|', a.vec_id, '|', b.vec_id)")}
        |   % 100 = 0),
        |dd AS (SELECT pr.a, pr.b,
        |  list_sum(list_transform(range(64), i ->
        |   (xa[CAST(i + 1 AS INTEGER)] - xb[CAST(i + 1 AS INTEGER)])
        |   * (xa[CAST(i + 1 AS INTEGER)] - xb[CAST(i + 1 AS INTEGER)]))) AS d2o,
        |  list_sum(list_transform(range(16), i ->
        |   (ya.y[CAST(i + 1 AS INTEGER)] - yb.y[CAST(i + 1 AS INTEGER)])
        |   * (ya.y[CAST(i + 1 AS INTEGER)] - yb.y[CAST(i + 1 AS INTEGER)]))) AS d2p
        | FROM pr JOIN yv ya ON ya.vec_id = pr.a
        |  JOIN yv yb ON yb.vec_id = pr.b),
        |r AS (SELECT CAST(CAST(d2p AS HUGEINT) * 1000000
        |   // (CAST(d2o AS HUGEINT) * 16) AS BIGINT) AS ratio_ppm
        | FROM dd WHERE d2o > 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(ratio_ppm) // count(*) AS BIGINT) AS mean_ratio_ppm,
        | CAST(min(ratio_ppm) AS BIGINT) AS min_ratio_ppm,
        | CAST(max(ratio_ppm) AS BIGINT) AS max_ratio_ppm
        |FROM r""".stripMargin,
    // q261: one wedge join + distinct over the symmetrized q22 graph.
    "q261_twohop_reach" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |e AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM e
        | UNION SELECT d2, d1 FROM e),
        |two AS (SELECT a.v, b.u FROM adj a JOIN adj b ON a.u = b.v),
        |rch AS (SELECT v, count(DISTINCT u) AS reach2 FROM (
        |  SELECT v, u FROM adj UNION SELECT v, u FROM two) t
        | WHERE v <> u GROUP BY 1),
        |dg AS (SELECT v, count(*) AS degree FROM adj GROUP BY 1)
        |SELECT dg.v AS doc_id, CAST(degree AS BIGINT) AS degree,
        | CAST(reach2 AS BIGINT) AS reach2,
        | CAST(reach2 * 1000000 // degree AS BIGINT) AS amplification_ppm
        |FROM dg JOIN rch ON dg.v = rch.v""".stripMargin,
    // q262: HBase VERSIONS=>k read — ts desc, write-order desc.
    "q262_max_versions" ->
      """SELECT user_id, qualifier, version, ts, value_cents, seq FROM (
        | SELECT user_id, event_type AS qualifier,
        |  CAST(row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS BIGINT) AS version,
        |  epoch_us(ts) AS ts,
        |  CAST(round(value * 100) AS BIGINT) AS value_cents,
        |  event_id AS seq
        | FROM events) t
        |WHERE version <= 3""".stripMargin,
    // q263: per-subscription visibility + the deterministic 80-99%
    // ack position replayed from md5('ack|name').
    "q263_consumer_lag" -> {
      def branch(name: String, cond: String): String =
        s"""SELECT '$name' AS subscription,
           | CAST(max(ack) AS BIGINT) AS ack_seq,
           | CAST(count(*) AS BIGINT) AS n_visible,
           | CAST(sum(CASE WHEN event_id > ack THEN 1 ELSE 0 END) AS BIGINT)
           |   AS n_pending,
           | CAST(count(DISTINCT CASE WHEN event_id > ack THEN user_id END)
           |   AS BIGINT) AS n_pending_keys,
           | CAST(min(CASE WHEN event_id > ack THEN epoch_us(ts) END)
           |   AS BIGINT) AS oldest_pending_ts,
           | CAST(sum(CASE WHEN event_id > ack THEN 1 ELSE 0 END) * 1000000
           |   // count(*) AS BIGINT) AS lag_ppm
           |FROM (SELECT event_id, user_id, ts,
           |  s0 + (s1 - s0) * (80 + ${hex8Sql(s"'ack|$name'")} % 20) // 100
           |    AS ack
           | FROM events CROSS JOIN b WHERE $cond) t""".stripMargin
      s"""WITH b AS (SELECT min(event_id) AS s0, max(event_id) AS s1
         |  FROM events)
         |${branch("all", "true")}
         |UNION ALL ${branch("clicks", "event_type = 'click'")}
         |UNION ALL ${branch("purchases", "event_type = 'purchase'")}
         |UNION ALL ${branch("payloads", "true")}""".stripMargin
    },
    // q264: bin-granular Pareto classes; exact per-bin mass.
    "q264_abc_classes" ->
      """WITH pp AS (SELECT l_partkey,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
        | FROM lineitem GROUP BY 1),
        |h AS (SELECT cents // 10000000 AS bin, count(*) AS n_parts,
        |  sum(cents) AS mass FROM pp GROUP BY 1),
        |c AS (SELECT bin, n_parts, mass,
        |  coalesce(sum(mass) OVER (ORDER BY bin DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS mass_above
        | FROM h),
        |t AS (SELECT sum(mass) AS total FROM h),
        |k AS (SELECT CASE WHEN mass_above * 10 < total * 8 THEN 'A'
        |   WHEN mass_above * 100 < total * 95 THEN 'B'
        |   ELSE 'C' END AS cls, n_parts, mass, total
        | FROM c CROSS JOIN t)
        |SELECT cls, CAST(sum(n_parts) AS BIGINT) AS n_parts,
        | CAST(sum(mass) AS BIGINT) AS revenue_cents,
        | CAST(sum(mass) * 1000000 // max(total) AS BIGINT) AS share_ppm
        |FROM k GROUP BY 1""".stripMargin,
    // q265: per-type trailing windows aligned to the total's
    // present-hour axis; spike predicate is q163's cross-multiply.
    "q265_spike_attribution" ->
      """WITH bt AS (SELECT epoch_us(ts) // 3600000000 AS h, event_type,
        |  count(*) AS nt FROM events GROUP BY 1, 2),
        |t AS (SELECT h, sum(nt) AS n FROM bt GROUP BY 1),
        |tw AS (SELECT h, n,
        |  sum(n) OVER (ORDER BY h
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS s24,
        |  count(n) OVER (ORDER BY h
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS c24 FROM t),
        |g AS (SELECT t.h, et.event_type, coalesce(nt, 0) AS nt
        | FROM t CROSS JOIN (SELECT DISTINCT event_type FROM bt) et
        | LEFT JOIN bt ON bt.h = t.h AND bt.event_type = et.event_type),
        |tg AS (SELECT h, event_type, nt,
        |  sum(nt) OVER (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS st24 FROM g)
        |SELECT CAST(tg.h AS BIGINT) AS h, tg.event_type,
        | CAST(nt AS BIGINT) AS nt,
        | CAST(st24 * n * 1000 // s24 AS BIGINT) AS expected_milli,
        | CAST(nt * 1000 - st24 * n * 1000 // s24 AS BIGINT)
        |   AS contribution_milli
        |FROM tg JOIN tw ON tg.h = tw.h
        |WHERE c24 = 24 AND (n * 24000000) // s24 > 2000000""".stripMargin,
    // q266: q108's exact-moment Pearson over the symmetrized edges.
    "q266_degree_assortativity" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |e AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |adj AS (SELECT d1 AS v, d2 AS u FROM e
        | UNION ALL SELECT d2, d1 FROM e),
        |dg AS (SELECT v, count(*) AS deg FROM adj GROUP BY 1),
        |j AS (SELECT dx.deg AS dx, dy.deg AS dy
        | FROM adj JOIN dg dx ON adj.v = dx.v JOIN dg dy ON adj.u = dy.v),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(dx) AS HUGEINT) AS sx, CAST(sum(dy) AS HUGEINT) AS sy,
        |  CAST(sum(dx * dx) AS HUGEINT) AS sxx,
        |  CAST(sum(dy * dy) AS HUGEINT) AS syy,
        |  CAST(sum(dx * dy) AS HUGEINT) AS sxy FROM j)
        |SELECT CAST(n AS BIGINT) AS n_dirs, CAST(sx AS BIGINT) AS sx,
        | CAST(sxy AS BIGINT) AS sxy,
        | CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0
        |  THEN NULL
        |  ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |   (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |    sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4) END
        |  AS assortativity
        |FROM m""".stripMargin,
    // q267: burst-collapse debounce — drop if within gap of the
    // PREDECESSOR (kept or dropped), q14's lag shape.
    "q267_event_debounce" ->
      """WITH l AS (SELECT event_type, epoch_us(ts) AS ts,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts), event_id) AS prev
        | FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CASE WHEN prev IS NOT NULL AND ts - prev <= 3600000000
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        | CAST(count(*) - sum(CASE WHEN prev IS NOT NULL
        |   AND ts - prev <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_kept,
        | CAST(sum(CASE WHEN prev IS NOT NULL AND ts - prev <= 3600000000
        |   THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS drop_ppm
        |FROM l GROUP BY 1""".stripMargin,
    // q268: the SQL surface must be the same engine — q01's oracle.
    "q268_sql_api" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    // q269/q270: the streaming states must replay as their batch
    // relations — same oracles as q267/q262.
    "q269_stream_debounce" ->
      """WITH l AS (SELECT event_type, epoch_us(ts) AS ts,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts), event_id) AS prev
        | FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CASE WHEN prev IS NOT NULL AND ts - prev <= 3600000000
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        | CAST(count(*) - sum(CASE WHEN prev IS NOT NULL
        |   AND ts - prev <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_kept,
        | CAST(sum(CASE WHEN prev IS NOT NULL AND ts - prev <= 3600000000
        |   THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS drop_ppm
        |FROM l GROUP BY 1""".stripMargin,
    "q270_stream_max_versions" ->
      """SELECT user_id, qualifier, version, ts, value_cents, seq FROM (
        | SELECT user_id, event_type AS qualifier,
        |  CAST(row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS BIGINT) AS version,
        |  epoch_us(ts) AS ts,
        |  CAST(round(value * 100) AS BIGINT) AS value_cents,
        |  event_id AS seq
        | FROM events) t
        |WHERE version <= 3""".stripMargin,
    // q271: exact rational slope median — integer cross-multiplied
    // order with a deterministic (h1, h2) tiebreak, lower median.
    "q271_theil_sen_forecast" ->
      """WITH hc AS (SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS n
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(h) AS hm FROM hc),
        |r AS (SELECT h, n FROM hc CROSS JOIN mx WHERE h > hm - 25),
        |p AS (SELECT a.h AS h1, b.h AS h2, b.n - a.n AS num,
        |  b.h - a.h AS den FROM r a JOIN r b ON a.h < b.h),
        |rk AS (SELECT a.h1, a.h2, a.num, a.den,
        |  1 + sum(CASE WHEN b.num * a.den < a.num * b.den
        |    OR (b.num * a.den = a.num * b.den AND (b.h1 < a.h1
        |      OR (b.h1 = a.h1 AND b.h2 < a.h2))) THEN 1 ELSE 0 END)
        |    AS rank
        | FROM p a CROSS JOIN p b GROUP BY 1, 2, 3, 4),
        |np AS (SELECT count(*) AS np FROM p),
        |lst AS (SELECT h AS last_h, n AS last_x FROM r CROSS JOIN mx
        | WHERE h = hm)
        |SELECT CAST(np AS BIGINT) AS n_pairs,
        | CAST(last_h AS BIGINT) AS last_h, CAST(last_x AS BIGINT) AS last_x,
        | CAST(num AS BIGINT) AS slope_num, CAST(den AS BIGINT) AS slope_den,
        | CAST(num * 1000 // den AS BIGINT) AS slope_milli,
        | CAST(last_x * 1000 + num * 1000 // den AS BIGINT)
        |   AS forecast_milli
        |FROM rk CROSS JOIN np CROSS JOIN lst
        |WHERE rank = (np + 1) // 2""".stripMargin,
    // q272: actual/uniform >= 1 (Cauchy-Schwarz); the gap is the
    // planner's under-provisioning on that key.
    "q272_cbo_skew_audit" -> {
      def branch(name: String, key: String): String =
        s"""SELECT '$name' AS join_key, CAST(sum(c) AS BIGINT) AS n,
           | CAST(count(*) AS BIGINT) AS ndv,
           | CAST(sum(c) * sum(c) // count(*) AS BIGINT) AS uniform_est,
           | CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS actual,
           | CAST(sum(CAST(c AS HUGEINT) * c) * 1000000
           |   // (sum(c) * sum(c) // count(*)) AS BIGINT)
           |   AS skew_ratio_ppm
           |FROM (SELECT $key AS k, count(*) AS c FROM events GROUP BY 1) t"""
          .stripMargin
      s"""${branch("user_id", "user_id")}
         |UNION ALL ${branch("event_type", "event_type")}
         |UNION ALL ${branch("day", "epoch_us(ts) // 86400000000")}"""
        .stripMargin
    },
    // q273: the salt is layout-only — the staged salted/pruned scan
    // must return exactly the plain filter on the raw table.
    "q273_rowkey_scan" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type,
        | CAST(round(value * 100) AS BIGINT) AS value_cents
        |FROM events WHERE user_id = 7
        | AND epoch_us(ts) >= 1704672000000000
        | AND epoch_us(ts) < 1705881600000000""".stripMargin,
    // q274: full-outer interval join — unmatched rows are emitted
    // exactly when the joint watermark (least of the two sides' max
    // event times, delay 0) proves no partner can arrive: purchases
    // once joint passes their ts, clicks once it passes ts + 1h.
    "q274_stream_full_outer" ->
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS ts FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id, epoch_us(ts) AS ts FROM events
        |  WHERE event_type = 'purchase'),
        |wm AS (SELECT (least((SELECT max(ts) FROM c),
        |  (SELECT max(ts) FROM p)) // 1000) * 1000 AS joint),
        |j AS (SELECT p.user_id AS p_user, p.event_id AS purchase_seq,
        |  p.ts AS p_ts, c.user_id AS c_user, c.event_id AS click_seq,
        |  c.ts AS c_ts
        | FROM p FULL JOIN c ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - 3600000000 AND c.ts <= p.ts),
        |f AS (SELECT coalesce(p_user, c_user) AS user_id,
        |  purchase_seq, click_seq FROM j, wm
        | WHERE (purchase_seq IS NOT NULL AND click_seq IS NOT NULL)
        |  OR (click_seq IS NULL AND p_ts < wm.joint)
        |  OR (purchase_seq IS NULL AND c_ts + 3600000000 < wm.joint))
        |SELECT user_id,
        | CAST(sum(CASE WHEN purchase_seq IS NOT NULL
        |   AND click_seq IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
        | count(DISTINCT CASE WHEN click_seq IS NULL THEN purchase_seq END)
        |   AS n_unmatched_purchases,
        | count(DISTINCT CASE WHEN purchase_seq IS NULL THEN click_seq END)
        |   AS n_unmatched_clicks
        |FROM f GROUP BY user_id""".stripMargin,
    // q275: the iterated BPE loop — per round, pair counts over the
    // word-frequency table, argmax rule (n DESC, then (l, r)), then
    // a left-to-right greedy collapse replayed as the identical
    // list_reduce look-back fold (a merged l||r can never equal l,
    // so the fold never re-fires on its own output — same argument
    // as the Spark side's `aggregate`).
    "q275_bpe_train" -> {
      def round(i: Int) =
        s"""p$i AS MATERIALIZED (
           |  SELECT p['l'] AS l, p['r'] AS r, sum(freq) AS n FROM (
           |    SELECT unnest(list_transform(range(1, len(syms)),
           |      i -> {'l': syms[i], 'r': syms[i+1]})) AS p, freq FROM w${i - 1})
           |  GROUP BY 1, 2),
           |b$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
           |w$i AS MATERIALIZED (
           |  SELECT list_reduce(list_transform(syms, y -> [y]),
           |    (acc, x) -> CASE WHEN acc[len(acc)] = l AND x[1] = r
           |      THEN list_concat(acc[1:len(acc)-1], [l || r])
           |      ELSE list_concat(acc, x) END) AS syms, freq
           |  FROM w${i - 1} CROSS JOIN b$i)""".stripMargin
      s"""WITH w0 AS MATERIALIZED (
        |  SELECT string_split(w, '') AS syms, count(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 1 GROUP BY w),
        |${(1 to 3).map(round).mkString(",\n")}
        |SELECT CAST(1 AS BIGINT) AS merge_round, l AS left_sym,
        |  r AS right_sym, CAST(n AS BIGINT) AS n FROM b1
        |UNION ALL SELECT 2, l, r, CAST(n AS BIGINT) FROM b2
        |UNION ALL SELECT 3, l, r, CAST(n AS BIGINT) FROM b3""".stripMargin
    },
    // q276: the TPC-H Q17 correlated scalar subquery, written in its
    // correlated form here — DuckDB decorrelates it to the same
    // agg+join the Spark side declares; the threshold compare is
    // integer cross-multiplication on both engines.
    "q276_small_qty_revenue" ->
      """WITH pp AS (SELECT l_partkey, sum(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |  count(*) AS n_lines FROM lineitem GROUP BY 1)
        |SELECT p_brand, count(*) AS n_small_lines,
        | round(sum(l_extendedprice), 2) AS small_qty_revenue
        |FROM lineitem JOIN pp USING (l_partkey)
        | JOIN part ON l_partkey = p_partkey
        |WHERE CAST(l_quantity AS BIGINT) * 5 * n_lines < sum_qty
        |GROUP BY 1""".stripMargin,
    // q277: Q21's double EXISTS/NOT EXISTS as the one-pass per-order
    // aggregation (sole late supplier in a multi-supplier order).
    "q277_waiting_suppliers" ->
      """WITH b AS (SELECT l_orderkey,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT CASE WHEN l_shipdate > o_orderdate
        |    + INTERVAL 60 DAY THEN l_suppkey END) AS n_late,
        |  max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |    THEN l_suppkey END) AS late_supp
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | GROUP BY 1)
        |SELECT late_supp AS s_suppkey, s_name,
        | CAST(count(*) AS BIGINT) AS numwait
        |FROM b JOIN supplier ON late_supp = s_suppkey
        |WHERE n_supps >= 2 AND n_late = 1
        |GROUP BY 1, 2""".stripMargin,
    // q278: Q22's scalar-subquery threshold + anti-join; integer
    // cents cross-multiply for the above-average test.
    "q278_dormant_high_balance" ->
      """WITH c AS (SELECT c_custkey, c_nationkey, c_acctbal,
        |  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        | FROM customer),
        |t AS (SELECT sum(bal_cents) AS sum_pos, count(*) AS n_pos
        | FROM c WHERE bal_cents > 0)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_dormant,
        | round(sum(c_acctbal), 2) AS total_balance
        |FROM c CROSS JOIN t
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE bal_cents * n_pos > sum_pos
        | AND NOT EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY 1""".stripMargin,
    // q279: Q14's promo share per ship-year; cents + integer ppm.
    "q279_promo_share" ->
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        | CAST(sum(CASE WHEN p_type = 'PROMO' THEN
        |   CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
        |   ELSE 0 END) AS BIGINT) AS promo_cents,
        | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |   AS BIGINT)) AS BIGINT) AS total_cents,
        | CAST(sum(CASE WHEN p_type = 'PROMO' THEN
        |   CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
        |   ELSE 0 END) * 1000000 // sum(CAST(round(l_extendedprice
        |   * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS promo_ppm
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,
    // q280: Q8 generalized — top supplier-nation per region-year and
    // its ppm share; leader ties by (cents, name) max.
    "q280_market_leader" ->
      """WITH g AS (SELECT r_name,
        |  CAST(year(o_orderdate) AS BIGINT) AS order_year, n_name,
        |  sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |    AS BIGINT)) AS nation_cents
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        | GROUP BY 1, 2, 3)
        |SELECT r_name, order_year,
        | max({'c': nation_cents, 'n': n_name})['n'] AS leader_nation,
        | CAST(max({'c': nation_cents, 'n': n_name})['c'] AS BIGINT)
        |   AS leader_cents,
        | CAST(sum(nation_cents) AS BIGINT) AS region_cents,
        | CAST(CAST(max({'c': nation_cents, 'n': n_name})['c'] AS BIGINT)
        |   * 1000000 // sum(nation_cents) AS BIGINT) AS leader_ppm
        |FROM g GROUP BY 1, 2""".stripMargin,
    // q281: deterministic synchronous LPA — majority neighbor label,
    // ties to the smallest label (min over a (-count, label) struct),
    // 3 fixed rounds over the q207 edge CTEs; output is the bounded
    // community-size histogram.
    "q281_label_propagation" -> {
      val rounds = (1 to 3).map { i =>
        s"""l$i AS MATERIALIZED (
           |  SELECT a AS node, min({'nc': -cnt, 'l': label})['l'] AS label
           |  FROM (SELECT e.a, l.label, count(*) AS cnt
           |    FROM e0 e JOIN l${i - 1} l ON e.b = l.node GROUP BY 1, 2)
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |c AS MATERIALIZED (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |e0 AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM c
        | UNION ALL SELECT d2, d1 FROM c),
        |l0 AS (SELECT DISTINCT a AS node, a AS label FROM e0),
        |$rounds,
        |sz AS (SELECT label, count(*) AS sz FROM l3 GROUP BY 1)
        |SELECT CAST(sz AS BIGINT) AS community_size,
        | CAST(count(*) AS BIGINT) AS n_communities
        |FROM sz GROUP BY 1""".stripMargin
    },
    // q282: the q275 rules applied in learned order (one LTR pass per
    // rule — the pass the trainer's statistics were counted under) to
    // each language's vocab; per-lang compression report.
    "q282_bpe_apply" -> {
      def round(i: Int) =
        s"""p$i AS MATERIALIZED (
           |  SELECT p['l'] AS l, p['r'] AS r, sum(freq) AS n FROM (
           |    SELECT unnest(list_transform(range(1, len(syms)),
           |      i -> {'l': syms[i], 'r': syms[i+1]})) AS p, freq FROM w${i - 1})
           |  GROUP BY 1, 2),
           |b$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
           |w$i AS MATERIALIZED (
           |  SELECT list_reduce(list_transform(syms, y -> [y]),
           |    (acc, x) -> CASE WHEN acc[len(acc)] = l AND x[1] = r
           |      THEN list_concat(acc[1:len(acc)-1], [l || r])
           |      ELSE list_concat(acc, x) END) AS syms, freq
           |  FROM w${i - 1} CROSS JOIN b$i)""".stripMargin
      def applyRound(i: Int) =
        s"""v$i AS MATERIALIZED (
           |  SELECT lang, list_reduce(list_transform(syms, y -> [y]),
           |    (acc, x) -> CASE WHEN acc[len(acc)] = l AND x[1] = r
           |      THEN list_concat(acc[1:len(acc)-1], [l || r])
           |      ELSE list_concat(acc, x) END) AS syms, freq, n_chars
           |  FROM v${i - 1} CROSS JOIN b$i)""".stripMargin
      s"""WITH w0 AS MATERIALIZED (
        |  SELECT string_split(w, '') AS syms, count(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 1 GROUP BY w),
        |${(1 to 3).map(round).mkString(",\n")},
        |v0 AS MATERIALIZED (
        |  SELECT lang, string_split(w, '') AS syms, count(*) AS freq,
        |    CAST(length(w) AS BIGINT) AS n_chars
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  WHERE length(w) >= 1 GROUP BY lang, w),
        |${(1 to 3).map(applyRound).mkString(",\n")}
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_vocab,
        | CAST(sum(freq) AS BIGINT) AS n_words,
        | CAST(sum(freq * n_chars) AS BIGINT) AS n_tokens_char,
        | CAST(sum(freq * len(syms)) AS BIGINT) AS n_tokens_bpe,
        | CAST((sum(freq * n_chars) - sum(freq * len(syms))) * 1000000
        |   // sum(freq * n_chars) AS BIGINT) AS saved_ppm
        |FROM v3 GROUP BY 1""".stripMargin
    },
    // q251: blooms and probes are pure md5 arithmetic; duplicate
    // hash positions keep their multiplicity on both engines (the
    // count(*)=3 membership test).
    "q251_partition_bloom" ->
      s"""WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
        |  user_id FROM events),
        |rr AS (SELECT unnest(range(3)) AS r),
        |bb AS (SELECT DISTINCT day,
        |  ${hex8Sql("concat('pb', r, '|', user_id)")} % 512 AS pos
        | FROM du, rr),
        |probes AS (SELECT DISTINCT user_id FROM du
        | WHERE ${hex8Sql("concat('probe|', user_id)")} % 16 = 0),
        |days AS (SELECT DISTINCT day FROM du),
        |pg AS (SELECT user_id, day,
        |  ${hex8Sql("concat('pb', r, '|', user_id)")} % 512 AS pos
        | FROM probes, days, rr),
        |hits AS (SELECT user_id, day FROM pg
        | WHERE EXISTS (SELECT 1 FROM bb
        |   WHERE bb.day = pg.day AND bb.pos = pg.pos)
        | GROUP BY 1, 2 HAVING count(*) = 3),
        |hd AS (SELECT user_id, count(*) AS hit_days FROM hits GROUP BY 1),
        |tr AS (SELECT user_id, count(*) AS true_days FROM du
        | WHERE user_id IN (SELECT user_id FROM probes) GROUP BY 1),
        |nd AS (SELECT count(*) AS n_days FROM days)
        |SELECT p.user_id, CAST(n_days AS BIGINT) AS n_days,
        | CAST(coalesce(true_days, 0) AS BIGINT) AS true_days,
        | CAST(coalesce(hit_days, 0) AS BIGINT) AS hit_days,
        | CAST(coalesce(hit_days, 0) - coalesce(true_days, 0) AS BIGINT)
        |   AS fp_days,
        | CAST((n_days - coalesce(hit_days, 0)) * 1000000 // n_days
        |   AS BIGINT) AS skip_ppm
        |FROM probes p CROSS JOIN nd
        | LEFT JOIN hd ON hd.user_id = p.user_id
        | LEFT JOIN tr ON tr.user_id = p.user_id""".stripMargin,
    // q361: stupid-backoff components are exact integer counts;
    // log10 per bigram is fixed IEEE, mean rounded at 4 (house q346
    // discipline).
    "q361_backoff_lm" ->
      """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |bgt AS (SELECT unnest(list_transform(range(len(t) - 1),
        |   i -> t[i+1] || ' ' || t[i+2])) AS bg
        | FROM tt WHERE doc_id % 2 = 0 AND len(t) >= 2),
        |cb AS (SELECT bg, CAST(count(*) AS BIGINT) AS cb
        | FROM bgt GROUP BY 1),
        |cw1 AS (SELECT string_split(bg, ' ')[1] AS w1,
        |  CAST(sum(cb) AS BIGINT) AS cw1 FROM cb GROUP BY 1),
        |cu AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM (
        |  SELECT unnest(t) AS w FROM tt WHERE doc_id % 2 = 0) GROUP BY 1),
        |nt AS (SELECT CAST(sum(cu) AS BIGINT) AS n_train FROM cu),
        |sc AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1),
        |   i -> t[i+1] || ' ' || t[i+2])) AS bg
        | FROM tt WHERE doc_id % 2 = 1 AND len(t) >= 2),
        |f AS (SELECT sc.doc_id, cb.cb, c1.cw1, cu.cu, nt.n_train
        | FROM sc LEFT JOIN cb ON sc.bg = cb.bg
        | LEFT JOIN cw1 c1 ON string_split(sc.bg, ' ')[1] = c1.w1
        | LEFT JOIN cu ON string_split(sc.bg, ' ')[2] = cu.w
        | CROSS JOIN nt)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        | CAST(sum(CASE WHEN cb IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_backoff,
        | CAST(sum(CASE WHEN cb IS NULL AND cu IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_oov,
        | CAST(sum(CAST(round((CASE
        |  WHEN cb IS NOT NULL THEN log10(cb) - log10(cw1)
        |  WHEN cu IS NOT NULL THEN log10(0.4) + log10(cu) - log10(n_train)
        |  ELSE log10(0.4) - log10(n_train) END) * 1e6) AS BIGINT))
        |  // count(*) AS BIGINT) AS backoff_micro
        |FROM f GROUP BY 1""".stripMargin,
    // q362: the per-WORD log-ratio is micro-rounded on the vocab
    // frame; per-doc means are integer (// = Spark div, trunc-
    // toward-zero on both engines, verified on negatives).
    "q362_moore_lewis" ->
      """WITH tok AS (SELECT doc_id, lang,
        |  unnest(string_split(text, ' ')) AS w FROM documents),
        |v AS (SELECT w, CAST(count(*) AS BIGINT) AS cg,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS cin FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(cg) AS BIGINT) AS ng,
        |  CAST(sum(cin) AS BIGINT) AS nin,
        |  CAST(count(*) AS BIGINT) AS v FROM v),
        |lp AS (SELECT w, CAST(round((
        |   ln(CAST(cin + 1 AS DOUBLE) / CAST(nin + v AS DOUBLE))
        |   - ln(CAST(cg + 1 AS DOUBLE) / CAST(ng + v AS DOUBLE))) * 1e6)
        |  AS BIGINT) AS lp_micro FROM v, tot),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(sum(lp_micro) // count(*) AS BIGINT) AS ml_micro
        | FROM tok JOIN lp USING (w) GROUP BY 1),
        |sel AS (SELECT doc_id FROM sc
        | ORDER BY ml_micro DESC, doc_id LIMIT 50)
        |SELECT doc_id, n_toks, ml_micro,
        | doc_id IN (SELECT doc_id FROM sel) AS selected
        |FROM sc""".stripMargin,
    // q363: counts and the Dirichlet prior mass are exact integers
    // (micro fixed-point); delta and z are one fixed IEEE expression
    // per (source, word), micro-rounded BEFORE the rank.
    "q363_log_odds_terms" ->
      """WITH tok AS (SELECT source,
        |  unnest(string_split(text, ' ')) AS w FROM documents),
        |bs AS (SELECT source, w, CAST(count(*) AS BIGINT) AS y
        | FROM tok GROUP BY 1, 2),
        |c AS (SELECT w, CAST(count(*) AS BIGINT) AS yc
        | FROM tok GROUP BY 1),
        |t AS (SELECT source, CAST(count(*) AS BIGINT) AS ns
        | FROM tok GROUP BY 1),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM tok),
        |sc AS (SELECT bs.source, bs.w, bs.y,
        |  greatest(yc * 1000 * 1000000 // n_corpus, 1) AS a_micro,
        |  yc - y AS yr, n_corpus - ns AS nr, ns, n_corpus
        | FROM bs JOIN c USING (w) JOIN t USING (source) CROSS JOIN na),
        |z AS (SELECT source, w, y,
        |  CAST(round((
        |    ln(CAST(y * 1000000 + a_micro AS DOUBLE)
        |      / CAST(ns * 1000000 + 1000 * 1000000 - y * 1000000
        |          - a_micro AS DOUBLE))
        |    - ln(CAST(yr * 1000000 + a_micro AS DOUBLE)
        |      / CAST(nr * 1000000 + 1000 * 1000000 - yr * 1000000
        |          - a_micro AS DOUBLE)))
        |   / sqrt(1e6 / CAST(y * 1000000 + a_micro AS DOUBLE)
        |        + 1e6 / CAST(yr * 1000000 + a_micro AS DOUBLE))
        |   * 1e6) AS BIGINT) AS z_micro
        | FROM sc)
        |SELECT source, w AS term, y AS cnt, z_micro,
        | CAST(rank AS BIGINT) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY source
        |   ORDER BY z_micro DESC, w) AS rank FROM z) q
        |WHERE rank <= 5""".stripMargin,
    // q365: all confusion entries integer; MCC numerator rides
    // HUGEINT (decimal-38 on the Spark side); the denominator is the
    // product of two double sqrts of BIGINT pair-products (never the
    // n^4 product), one fixed IEEE expression per threshold row.
    "q365_mcc" ->
      """WITH sc AS (SELECT
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |   * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT)
        |   AS score,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        | FROM documents
        | WHERE len(string_split(text, ' ')) >= 1),
        |b AS (SELECT score // 100000 AS b, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos FROM sc GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
        |  CAST(sum(n_pos) AS BIGINT) AS p_total FROM b),
        |th AS (SELECT unnest(range(11)) AS t),
        |g AS (SELECT th.t,
        |  CAST(coalesce(sum(b.n), 0) AS BIGINT) AS n_pred_pos,
        |  CAST(coalesce(sum(b.n_pos), 0) AS BIGINT) AS tp
        | FROM th LEFT JOIN b ON b.b >= th.t GROUP BY 1),
        |f AS (SELECT g.t, tp, n_pred_pos - tp AS fp, p_total - tp AS fn,
        |  n_total - p_total - (n_pred_pos - tp) AS tn FROM g, tot)
        |SELECT CAST(t * 100000 AS BIGINT) AS threshold_ppm,
        | tp, fp, tn, fn,
        | CASE WHEN (tp + fp) * (tp + fn) > 0
        |    AND (tn + fp) * (tn + fn) > 0 THEN
        |  CAST(round(CAST(CAST(tp AS HUGEINT) * tn
        |     - CAST(fp AS HUGEINT) * fn AS DOUBLE)
        |   / (sqrt(CAST((tp + fp) * (tp + fn) AS DOUBLE))
        |      * sqrt(CAST((tn + fp) * (tn + fn) AS DOUBLE)))
        |   * 1e6) AS BIGINT)
        | END AS mcc_micro,
        | (tp * 1000000 // nullif(tp + fn, 0)
        |  + tn * 1000000 // nullif(tn + fp, 0)) // 2 AS bal_acc_ppm
        |FROM f""".stripMargin,
    // q366: the q23 simhash CTE verbatim, WWW'07 4x16-bit banding,
    // hamming on the decoded 60+4-bit longs, ground truth = exact
    // shingle Jaccard >= 0.5 (the q21/q360 ex CTE).
    "q366_simhash_precision" ->
      s"""WITH t1 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tk AS (SELECT doc_id, md5(tok) AS h FROM t1),
        |bb AS (SELECT doc_id, h, unnest(range(64)) AS bit FROM tk),
        |vv AS (SELECT doc_id, bit, sum(CASE WHEN
        |   (((strpos('0123456789abcdef', substr(h, CAST(bit // 4 AS INTEGER) + 1, 1)) - 1)
        |     >> CAST(bit % 4 AS INTEGER)) & 1) = 1
        |  THEN 1 ELSE -1 END) AS v FROM bb GROUP BY 1, 2),
        |nb AS (SELECT doc_id, bit // 4 AS j,
        |  sum(CASE WHEN v > 0 THEN (1 << CAST(bit % 4 AS INTEGER)) ELSE 0 END) AS nv
        | FROM vv GROUP BY 1, 2),
        |sh AS (SELECT doc_id, array_to_string(
        |  list(substr('0123456789abcdef', CAST(nv AS INTEGER) + 1, 1) ORDER BY j),
        |  '') AS simhash
        |FROM nb GROUP BY doc_id),
        |fp AS (SELECT doc_id,
        |  ${hexNibblesSql("simhash", 1, 15)} AS hi,
        |  ${hexNibblesSql("simhash", 16, 1)} AS lo FROM sh),
        |bd AS (SELECT doc_id, unnest(range(4)) AS band,
        |  substr(simhash, CAST(unnest(range(4)) * 4 + 1 AS INTEGER), 4)
        |   AS bk FROM sh),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bd a JOIN bd b ON a.band = b.band AND a.bk = b.bk
        |  AND a.doc_id < b.doc_id),
        |pred AS (SELECT d1, d2 FROM cand
        | JOIN fp f1 ON f1.doc_id = d1 JOIN fp f2 ON f2.doc_id = d2
        | WHERE bit_count(xor(f1.hi, f2.hi)) + bit_count(xor(f1.lo, f2.lo))
        |   <= 3),
        |$shinglesCte,
        |e AS (SELECT doc_id, unnest(sh) AS s FROM t),
        |cp AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        | FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |z AS (SELECT doc_id, len(sh) AS n FROM t),
        |ex AS (SELECT d1, d2 FROM cp
        | JOIN z za ON d1 = za.doc_id JOIN z zb ON d2 = zb.doc_id
        | WHERE CAST(common AS DOUBLE) / (za.n + zb.n - common) >= 0.5),
        |pc AS (SELECT CAST(count(*) AS BIGINT) AS n_predicted,
        |  CAST(sum(CASE WHEN ex.d1 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |   AS n_true_found
        | FROM pred LEFT JOIN ex ON pred.d1 = ex.d1 AND pred.d2 = ex.d2),
        |ec AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex)
        |SELECT n_predicted, n_true_found, n_exact,
        | n_true_found * 1000000 // nullif(n_predicted, 0) AS precision_ppm,
        | n_true_found * 1000000 // nullif(n_exact, 0) AS recall_ppm
        |FROM pc, ec""".stripMargin,
    // q367: candidates = the q47 lev<=1 set (deletion-variant
    // blocking is complete there); weights are the shared centiban
    // literals; everything integer.
    "q367_fellegi_sunter" ->
      """WITH p AS (SELECT a.c_custkey AS id1, b.c_custkey AS id2,
        |  a.c_nationkey AS nat1, b.c_nationkey AS nat2,
        |  a.c_mktsegment AS seg1, b.c_mktsegment AS seg2,
        |  CAST(round(a.c_acctbal * 100) AS BIGINT) AS bal1,
        |  CAST(round(b.c_acctbal * 100) AS BIGINT) AS bal2
        | FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        | WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |sc AS (SELECT id1, id2,
        |  nat1 = nat2 AS agree_nation,
        |  seg1 = seg2 AS agree_segment,
        |  abs(bal1 - bal2) <= 10000 AS agree_balance,
        |  9814
        |   + (CASE WHEN nat1 = nat2 THEN 4570 ELSE -4263 END)
        |   + (CASE WHEN seg1 = seg2 THEN 2170 ELSE -3000 END)
        |   + (CASE WHEN abs(bal1 - bal2) <= 10000 THEN 6322 ELSE -2307 END)
        |   AS score_cb
        | FROM p)
        |SELECT id1, id2, agree_nation, agree_segment, agree_balance,
        | CAST(score_cb AS BIGINT) AS score_cb,
        | CASE WHEN score_cb >= 18000 THEN 'match'
        |  WHEN score_cb >= 10000 THEN 'possible'
        |  ELSE 'nonmatch' END AS decision
        |FROM sc""".stripMargin,
    // q370: q24's banding CTEs from the same constants; exact and
    // found sides share the identical fixed IEEE cosine expression.
    "q370_radius_search" ->
      s"""WITH $quantCte,
        |$embedBandCtes,
        |ex AS (SELECT a.vec_id AS query_id,
        |  CAST(count(*) AS BIGINT) AS n_exact
        | FROM m a JOIN m b ON a.vec_id < 5 AND b.vec_id >= 5
        | WHERE $cosExpr >= 0.2 GROUP BY 1),
        |c AS (SELECT DISTINCT q.vec_id AS query_id, x.vec_id
        | FROM bd q JOIN bd x ON q.band = x.band AND q.band_key = x.band_key
        |  AND q.vec_id < 5 AND x.vec_id >= 5),
        |f AS (SELECT c.query_id, CAST(count(*) AS BIGINT) AS n_found
        | FROM c JOIN m a ON a.vec_id = c.query_id
        |  JOIN m b ON b.vec_id = c.vec_id
        | WHERE $cosExpr >= 0.2 GROUP BY 1),
        |qs AS (SELECT vec_id AS query_id FROM m WHERE vec_id < 5)
        |SELECT qs.query_id,
        | CAST(coalesce(n_exact, 0) AS BIGINT) AS n_exact,
        | CAST(coalesce(n_found, 0) AS BIGINT) AS n_found,
        | coalesce(n_found, 0) * 1000000
        |   // nullif(coalesce(n_exact, 0), 0) AS recall_ppm
        |FROM qs LEFT JOIN ex USING (query_id)
        | LEFT JOIN f USING (query_id)""".stripMargin,
    // q371: the q129 oriented enumeration; each closed wedge emits
    // its three corners; lcc integer ppm per node.
    "q371_local_clustering" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |e0 AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT d1 AS node FROM e0 UNION ALL SELECT d2 AS node FROM e0) u
        | GROUP BY node),
        |ow AS (SELECT
        |  CASE WHEN (g1.deg, e0.d1) < (g2.deg, e0.d2)
        |   THEN e0.d1 ELSE e0.d2 END AS s,
        |  CASE WHEN (g1.deg, e0.d1) < (g2.deg, e0.d2)
        |   THEN e0.d2 ELSE e0.d1 END AS t,
        |  CASE WHEN (g1.deg, e0.d1) < (g2.deg, e0.d2)
        |   THEN g2.deg ELSE g1.deg END AS td
        | FROM e0 JOIN deg g1 ON e0.d1 = g1.node
        |  JOIN deg g2 ON e0.d2 = g2.node),
        |wg AS (SELECT e1.s AS u, e1.t AS v, e2.t AS w2
        | FROM ow e1 JOIN ow e2
        | ON e1.s = e2.s AND (e1.td, e1.t) < (e2.td, e2.t)),
        |cl AS (SELECT u, v, w2 FROM wg
        | WHERE EXISTS (SELECT 1 FROM ow o WHERE o.s = wg.v AND o.t = wg.w2)),
        |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |  SELECT u AS node FROM cl UNION ALL SELECT v FROM cl
        |  UNION ALL SELECT w2 FROM cl) x GROUP BY 1)
        |SELECT deg.node AS doc_id, deg.deg,
        | coalesce(n_tri, 0) AS n_tri,
        | CASE WHEN deg.deg >= 2 THEN coalesce(n_tri, 0) * 1000000
        |   // ((deg.deg * (deg.deg - 1)) // 2) END AS lcc_ppm
        |FROM deg LEFT JOIN pn ON pn.node = deg.node""".stripMargin,
    // q372: exact order-statistic clip bounds (rank over the same
    // keys as the two-phase rank), pure integer clipping and means.
    "q372_winsorized_means" ->
      """WITH r AS (SELECT l_returnflag AS grp,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |  l_orderkey, l_linenumber FROM lineitem),
        |rk AS (SELECT grp, cents, row_number() OVER (PARTITION BY grp
        |   ORDER BY cents, l_orderkey, l_linenumber) AS rk,
        |  count(*) OVER (PARTITION BY grp) AS n FROM r),
        |b AS (SELECT grp,
        |  min(CASE WHEN rk = (n + 9) // 10 THEN cents END) AS p10,
        |  min(CASE WHEN rk = (9 * n + 9) // 10 THEN cents END) AS p90
        | FROM rk GROUP BY 1)
        |SELECT r.grp, CAST(count(*) AS BIGINT) AS n,
        | max(p10) AS p10_cents, max(p90) AS p90_cents,
        | CAST(sum(r.cents) // count(*) AS BIGINT) AS raw_mean_cents,
        | CAST(sum(greatest(p10, least(p90, r.cents))) // count(*)
        |   AS BIGINT) AS wins_mean_cents
        |FROM r JOIN b USING (grp) GROUP BY 1""".stripMargin,
    // q364: the streamed histogram equals the batch histogram of the
    // same deterministic split; PSI rows are integer ppm + one fixed
    // IEEE log per bounded bin row, round 6 (q176 conventions).
    "q364_stream_psi" ->
      """WITH e AS (SELECT user_id % 2 AS side,
        |  least(CAST(round(value * 100) AS BIGINT) // 2000, 11) AS bin
        | FROM events),
        |h AS (SELECT bin,
        |  CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_ref,
        |  CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_cur FROM e GROUP BY 1),
        |bins AS (SELECT unnest(range(12)) AS bin),
        |j AS (SELECT CAST(bins.bin AS BIGINT) AS bin,
        |  coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        | FROM bins LEFT JOIN h ON h.bin = bins.bin),
        |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tot_ref,
        |  CAST(sum(n_cur) AS BIGINT) AS tot_cur FROM j)
        |SELECT bin, n_ref, n_cur,
        | (n_ref + 1) * 1000000 // (tot_ref + 12) AS pa_ppm,
        | (n_cur + 1) * 1000000 // (tot_cur + 12) AS pb_ppm,
        | round(CAST((n_ref + 1) * 1000000 // (tot_ref + 12)
        |     - (n_cur + 1) * 1000000 // (tot_cur + 12) AS DOUBLE) / 1e6
        |   * ln(CAST((n_ref + 1) * 1000000 // (tot_ref + 12) AS DOUBLE)
        |     / CAST((n_cur + 1) * 1000000 // (tot_cur + 12) AS DOUBLE)),
        |   6) AS psi_contrib
        |FROM j, t""".stripMargin,
    // q368/q369: the sketch's estimates are merge-order-dependent
    // but its est <= true <= est + d contract and the completeness
    // theorem are not (the q331 gating argument applied to the
    // frequency domain) — the oracle pins the exact audited counts
    // and both flags at 1.
    "q368_heavy_hitters" ->
      """WITH c AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS cnt
        | FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |   FROM documents) GROUP BY 1)
        |SELECT token, cnt, CAST(1 AS BIGINT) AS within_bound,
        | CAST(1 AS BIGINT) AS present_ok
        |FROM c ORDER BY cnt DESC, token LIMIT 10""".stripMargin,
    "q369_stream_heavy_hitters" ->
      """WITH e AS (SELECT event_type AS qualifier,
        |  CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |g AS (SELECT qualifier, c, CAST(count(*) AS BIGINT) AS cnt
        | FROM e GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qualifier
        |   ORDER BY cnt DESC, c) AS rk FROM g)
        |SELECT qualifier, c, cnt, CAST(1 AS BIGINT) AS within_bound,
        | CAST(1 AS BIGINT) AS present_ok
        |FROM r WHERE rk <= 3""".stripMargin,
    // q373: per-row micro-rounded lns, integer sums — order-free.
    "q373_hill_tail" ->
      """WITH l AS (SELECT source, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        | FROM documents),
        |rk AS (SELECT source, n_toks, row_number() OVER (
        |   PARTITION BY source ORDER BY n_toks DESC, doc_id) AS rk
        | FROM l),
        |xk AS (SELECT source, n_toks AS x_k1 FROM rk WHERE rk = 11),
        |s AS (SELECT rk.source, x_k1,
        |  CAST(round((ln(rk.n_toks) - ln(x_k1)) * 1e6) AS BIGINT)
        |   AS ln_micro
        | FROM rk JOIN xk USING (source) WHERE rk.rk <= 10),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS k,
        |  max(x_k1) AS x_k1,
        |  CAST(sum(ln_micro) // count(*) AS BIGINT) AS hill_micro
        | FROM s GROUP BY 1)
        |SELECT source, k, x_k1, hill_micro,
        | CASE WHEN hill_micro > 0 THEN 1000000000 // hill_micro
        | END AS alpha_milli
        |FROM a""".stripMargin,
    // q374: every count integer; p and log10(p) are ONE fixed IEEE
    // expression per scored bigram (identical operator order both
    // engines), micro-rounded per row, integer per-doc means.
    "q374_kn_lm" ->
      """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |tb AS (SELECT unnest(list_transform(range(len(t) - 1),
        |   i -> t[i+1] || ' ' || t[i+2])) AS bg
        | FROM tt WHERE doc_id % 2 = 0 AND len(t) >= 2),
        |tb2 AS (SELECT bg, string_split(bg, ' ')[1] AS w1,
        |  string_split(bg, ' ')[2] AS w2 FROM tb),
        |pair AS (SELECT bg, CAST(count(*) AS BIGINT) AS cb
        | FROM tb2 GROUP BY 1),
        |ctx AS (SELECT w1, CAST(count(*) AS BIGINT) AS cw1,
        |  CAST(count(DISTINCT w2) AS BIGINT) AS n1w1 FROM tb2 GROUP BY 1),
        |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS cont2
        | FROM (SELECT DISTINCT w1, w2 FROM tb2) GROUP BY 1),
        |tots AS (SELECT CAST(count(DISTINCT bg) AS BIGINT) AS cont_all,
        |  CAST(count(DISTINCT w2) AS BIGINT) AS n_vocab FROM tb2),
        |sc AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1),
        |   i -> t[i+1] || ' ' || t[i+2])) AS bg
        | FROM tt WHERE doc_id % 2 = 1 AND len(t) >= 2),
        |j AS (SELECT sc.doc_id, pair.cb, ctx.cw1, ctx.n1w1, cont.cont2,
        |  tots.cont_all, tots.n_vocab
        | FROM sc LEFT JOIN pair ON sc.bg = pair.bg
        | LEFT JOIN ctx ON string_split(sc.bg, ' ')[1] = ctx.w1
        | LEFT JOIN cont ON string_split(sc.bg, ' ')[2] = cont.w2
        | CROSS JOIN tots),
        |f AS (SELECT doc_id, cb, cw1,
        |  CAST(round(log10(CASE
        |   WHEN cb IS NOT NULL THEN
        |    (CAST(cb AS DOUBLE) - 0.75) / CAST(cw1 AS DOUBLE)
        |     + 0.75 * CAST(n1w1 AS DOUBLE) / CAST(cw1 AS DOUBLE)
        |       * (CAST(coalesce(cont2, 0) + 1 AS DOUBLE)
        |          / CAST(cont_all + n_vocab AS DOUBLE))
        |   WHEN cw1 IS NOT NULL THEN
        |    0.75 * CAST(n1w1 AS DOUBLE) / CAST(cw1 AS DOUBLE)
        |     * (CAST(coalesce(cont2, 0) + 1 AS DOUBLE)
        |        / CAST(cont_all + n_vocab AS DOUBLE))
        |   ELSE CAST(coalesce(cont2, 0) + 1 AS DOUBLE)
        |        / CAST(cont_all + n_vocab AS DOUBLE)
        |  END) * 1e6) AS BIGINT) AS lp_micro
        | FROM j)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        | CAST(sum(CASE WHEN cb IS NULL AND cw1 IS NOT NULL
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen_pair,
        | CAST(sum(CASE WHEN cw1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_unseen_ctx,
        | CAST(sum(lp_micro) // count(*) AS BIGINT) AS kn_score_micro
        |FROM f GROUP BY 1""".stripMargin,
    // q375: positional spans vs the distinct-shingle owner frame;
    // all integer.
    "q375_span_dedup" ->
      s"""WITH $shinglesCte,
        |own AS (SELECT sh2 AS sh, CAST(count(*) AS BIGINT) AS docs_with,
        |  min(doc_id) AS owner
        | FROM (SELECT doc_id, unnest(sh) AS sh2 FROM t) GROUP BY 1),
        |d AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |sp AS (SELECT doc_id, unnest(list_transform(range(len(tk) - 2),
        |   i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS sh
        | FROM d WHERE len(tk) >= 3),
        |agged AS (SELECT sp.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(CASE WHEN docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_dup_spans,
        |  CAST(sum(CASE WHEN owner <> sp.doc_id THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_removed
        | FROM sp JOIN own USING (sh) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_spans, 0) AS n_spans,
        | coalesce(n_dup_spans, 0) AS n_dup_spans,
        | coalesce(n_removed, 0) AS n_removed,
        | coalesce((coalesce(n_spans, 0) - coalesce(n_removed, 0))
        |   * 1000000 // nullif(coalesce(n_spans, 0), 0), 1000000)
        |   AS surviving_ppm
        |FROM d LEFT JOIN agged ON agged.doc_id = d.doc_id""".stripMargin,
    // q376: every bucket count recomputed from the pixel formula —
    // the codec round-trip checked at distribution grain.
    "q376_png_histogram" ->
      """WITH d AS (SELECT doc_id, doc_id % 13 + 4 AS w,
        |  doc_id % 7 + 3 AS h FROM documents),
        |xs AS (SELECT unnest(range(16)) AS x),
        |ys AS (SELECT unnest(range(9)) AS y),
        |px AS (SELECT doc_id,
        |  (((doc_id + 3*x + 5*y) % 256) + ((2*doc_id + 7*x + 11*y) % 256)
        |   + ((3*doc_id + 13*x + 17*y) % 256)) // 3 AS gray
        | FROM d, xs, ys WHERE x < w AND y < h),
        |bs AS (SELECT unnest(range(8)) AS bucket),
        |c AS (SELECT doc_id, gray // 32 AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_px FROM px GROUP BY 1, 2)
        |SELECT d.doc_id, CAST(bs.bucket AS BIGINT) AS bucket,
        | coalesce(c.n_px, 0) AS n_px
        |FROM d CROSS JOIN bs
        |LEFT JOIN c ON c.doc_id = d.doc_id AND c.bucket = bs.bucket""".stripMargin,
    // q377: the q331/q340 argument per group — estimates vary with
    // merge order, the carried rank-interval bound does not.
    "q377_group_kll" ->
      """WITH g AS (SELECT l_returnflag AS grp,
        |  CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1),
        |qs AS (SELECT unnest([250, 500, 750]) AS q)
        |SELECT grp, CAST(q AS BIGINT) AS q_milli, n,
        | CAST(1 AS BIGINT) AS within_bound
        |FROM g, qs""".stripMargin,
    // q378: the q174 bounded-domain trick in 2D — grid, marginals,
    // and the constant grid-pair join are all integer (HUGEINT /
    // decimal-38 internally); one fixed IEEE sqrt-divide at the end.
    "q378_kendall_tau" ->
      """WITH sc AS (SELECT
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |   * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT)
        |   // 100000 AS a,
        |  least(CAST(length(text) AS BIGINT) // 50, 11) AS b
        | FROM documents
        | WHERE len(string_split(text, ' ')) >= 1),
        |g AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
        | FROM sc GROUP BY 1, 2),
        |pr AS (SELECT g1.a AS a1, g1.b AS b1, g2.a AS a2, g2.b AS b2,
        |  CAST(g1.n AS HUGEINT) * g2.n AS prod
        | FROM g g1 JOIN g g2
        | ON (g2.a > g1.a) OR (g2.a = g1.a AND g2.b > g1.b)),
        |cd AS (SELECT
        |  sum(CASE WHEN a2 > a1 AND b2 > b1 THEN prod ELSE 0 END) AS c,
        |  sum(CASE WHEN a2 > a1 AND b2 < b1 THEN prod ELSE 0 END) AS d
        | FROM pr),
        |ma AS (SELECT sum(CAST(m AS HUGEINT) * (m - 1) // 2) AS t_a
        | FROM (SELECT CAST(sum(n) AS BIGINT) AS m FROM g GROUP BY a)),
        |mb AS (SELECT sum(CAST(m AS HUGEINT) * (m - 1) // 2) AS t_b
        | FROM (SELECT CAST(sum(n) AS BIGINT) AS m FROM g GROUP BY b)),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
        |  CAST(sum(n) AS HUGEINT) * (sum(n) - 1) // 2 AS n0 FROM g)
        |SELECT n_total, CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
        | CAST(t_a AS BIGINT) AS t_a, CAST(t_b AS BIGINT) AS t_b,
        | CAST(round(CAST(c - d AS DOUBLE)
        |   / sqrt(CAST(n0 - t_a AS DOUBLE) * CAST(n0 - t_b AS DOUBLE))
        |   * 1e6) AS BIGINT) AS tau_b_micro
        |FROM cd, ma, mb, tt""".stripMargin,
    // q379: global length rank replayed by one window (the gate
    // grain); thresholds are integer ppm.
    "q379_curriculum_pacing" ->
      """WITH l AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        | FROM documents),
        |rk AS (SELECT doc_id, n_toks,
        |  row_number() OVER (ORDER BY n_toks, doc_id) AS rk,
        |  count(*) OVER () AS n_all FROM l),
        |d AS (SELECT doc_id, n_toks, rk * 1000000 // n_all AS diff_ppm
        | FROM rk),
        |e AS (SELECT unnest(range(1, 4)) AS epoch)
        |SELECT CAST(epoch AS BIGINT) AS epoch,
        | CAST(least(1000000, 250000 + 250000 * epoch) AS BIGINT)
        |   AS threshold_ppm,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |FROM e JOIN d
        | ON d.diff_ppm <= least(1000000, 250000 + 250000 * epoch)
        |GROUP BY 1, 2""".stripMargin,
    // q380: md5-keeper token supply x a literal model grid; all
    // integer.
    "q380_chinchilla_planner" ->
      """WITH k AS (SELECT md5(text) AS h,
        |  max(CAST(len(string_split(text, ' ')) AS BIGINT)) AS n_toks
        | FROM documents GROUP BY 1),
        |s AS (SELECT CAST(sum(n_toks) AS BIGINT) AS effective_tokens
        | FROM k),
        |g(model, params) AS (VALUES ('125M', 125000000),
        | ('1.3B', 1300000000), ('13B', 13000000000),
        | ('70B', 70000000000))
        |SELECT model, CAST(params AS BIGINT) AS params, effective_tokens,
        | CAST(params * 20 AS BIGINT) AS optimal_tokens,
        | CAST(params * 20 * 1000 // effective_tokens AS BIGINT)
        |   AS epochs_milli,
        | params * 20 * 1000 // effective_tokens > 4000
        |   AS data_constrained
        |FROM g, s""".stripMargin,
    // q381: three fixed generalization levels over the same keyed
    // frame; every column integer.
    "q381_generalization_ladder" ->
      """WITH b AS (SELECT c.c_nationkey AS nat, n.n_regionkey AS reg,
        |  CAST(round(c.c_acctbal * 100) AS BIGINT) AS cents
        | FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |lv AS (
        | SELECT 0 AS level, concat(nat, '|', cents // 10000) AS qc FROM b
        | UNION ALL
        | SELECT 1, concat(reg, '|', cents // 100000) FROM b
        | UNION ALL
        | SELECT 2, concat(reg, '') FROM b),
        |cl AS (SELECT level, qc, CAST(count(*) AS BIGINT) AS m
        | FROM lv GROUP BY 1, 2)
        |SELECT CAST(level AS BIGINT) AS level,
        | CAST(count(*) AS BIGINT) AS n_classes,
        | CAST(min(m) AS BIGINT) AS min_class,
        | CAST(sum(CASE WHEN m < 5 THEN m ELSE 0 END) AS BIGINT)
        |   AS n_suppressed,
        | CAST(sum(CASE WHEN m < 5 THEN m ELSE 0 END) * 1000000
        |   // sum(m) AS BIGINT) AS suppression_ppm
        |FROM cl GROUP BY 1""".stripMargin,
    // q382: per-source exact top-2 with the pinned MG theorems
    // (q368's argument per group).
    "q382_source_heavy_hitters" ->
      """WITH t AS (SELECT source,
        |  unnest(string_split(text, ' ')) AS tok FROM documents),
        |g AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
        | FROM t GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |   ORDER BY cnt DESC, tok) AS rank FROM g)
        |SELECT source, tok AS token, cnt, CAST(rank AS BIGINT) AS rank,
        | CAST(1 AS BIGINT) AS within_bound,
        | CAST(1 AS BIGINT) AS present_ok
        |FROM r WHERE rank <= 2""".stripMargin,
    // q383: quality composite is the q28/q65 shared fixed IEEE
    // expression at the 0.7 cut; dups are the q21 exact-pair right
    // column (the pairwise min-keeper removable set).
    "q383_quality_dup_interaction" -> {
      val shingles = """t AS (SELECT doc_id, list_distinct(list_transform(
        |   range(1, len(string_split(text,' '))-1),
        |   i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS sh
        | FROM documents)""".stripMargin
      s"""WITH $shingles,
        |e AS (SELECT doc_id, unnest(sh) AS s FROM t),
        |cp AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        | FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |z AS (SELECT doc_id, len(sh) AS n FROM t),
        |dup AS (SELECT DISTINCT d2 AS doc_id FROM cp
        | JOIN z za ON d1 = za.doc_id JOIN z zb ON d2 = zb.doc_id
        | WHERE CAST(c AS DOUBLE) / (za.n + zb.n - c) >= 0.5),
        |d AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |  (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' '))) * 0.5
        |   + (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |       x -> x IN ('the', 'a'))) AS DOUBLE)
        |     / len(string_split(text, ' '))) * 0.5 >= 0.7
        |   AS quality_pass FROM documents),
        |tt AS (SELECT CAST(sum(n_toks) AS BIGINT) AS total_tokens FROM d)
        |SELECT quality_pass, dup.doc_id IS NOT NULL AS is_dup,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        | CAST(sum(n_toks) * 1000000 // total_tokens AS BIGINT)
        |   AS token_share_ppm
        |FROM d LEFT JOIN dup ON d.doc_id = dup.doc_id CROSS JOIN tt
        |GROUP BY 1, 2, total_tokens""".stripMargin
    },
    // q384: positional 5-gram anchors; ownership frame distinct per
    // doc (min-doc owner, the q375 rule); covered positions merge to
    // maximal spans via the pos - row_number island trick.
    "q384_exact_substr" -> exactSubstrOracle,
    // q385: the q38 centroid CTEs with training restricted to the
    // EVEN (base) split and assignment to the ODD (streamed) split —
    // the stream must land exactly the batch assignment.
    "q385_stream_ivf_index" ->
      """WITH q AS (SELECT vec_id, label, list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        | FROM embeddings),
        |m AS (SELECT vec_id, label, v,
        |  CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        | FROM q),
        |cu AS (SELECT label, unnest(v) AS x,
        |  generate_subscripts(v, 1) - 1 AS pos FROM q
        | WHERE vec_id % 2 = 0),
        |cs AS (SELECT label, pos, sum(x) AS sx, count(*) AS nv
        | FROM cu GROUP BY 1, 2),
        |cl AS (SELECT label,
        |  list(CAST(trunc(CAST(sx AS DOUBLE) / nv) AS BIGINT)
        |    ORDER BY pos) AS cv
        | FROM cs GROUP BY label),
        |cn AS (SELECT label, cv,
        |  CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS cn2
        | FROM cl),
        |ac AS (SELECT m.vec_id, cn.label,
        |  CAST(CAST(list_sum(list_transform(range(64),
        |      i -> m.v[i+1] * cn.cv[i+1])) AS BIGINT) AS DOUBLE)
        |   / (sqrt(CAST(m.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
        |   AS ccos
        | FROM m, cn WHERE m.vec_id % 2 = 1)
        |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM (
        | SELECT vec_id, label AS cell, row_number() OVER (
        |   PARTITION BY vec_id ORDER BY ccos DESC, label) AS rk
        | FROM ac) t WHERE rk = 1""".stripMargin,
    // q386: metadata + formula mean replayed exactly; the lossy-
    // codec invariants (mean-within-tolerance, stable double-decode)
    // arrive as booleans the oracle asserts TRUE.
    "q386_jpeg_decode" ->
      """WITH d AS (SELECT doc_id, doc_id % 13 + 4 AS w,
        |  doc_id % 7 + 3 AS h FROM documents),
        |xs AS (SELECT unnest(range(16)) AS x),
        |ys AS (SELECT unnest(range(9)) AS y),
        |px AS (SELECT doc_id,
        |  ((doc_id + 3*x + 5*y) % 256) + ((2*doc_id + 7*x + 11*y) % 256)
        |   + ((3*doc_id + 13*x + 17*y) % 256) AS sumc
        | FROM d, xs, ys WHERE x < w AND y < h),
        |mn AS (SELECT doc_id,
        |  CAST(sum(sumc) * 1000 // (3 * count(*)) AS BIGINT)
        |   AS mean_formula_milli
        | FROM px GROUP BY 1)
        |SELECT d.doc_id, CAST(w AS BIGINT) AS width,
        | CAST(h AS BIGINT) AS height,
        | CAST(3 AS BIGINT) AS n_components, mean_formula_milli,
        | TRUE AS within_tol, TRUE AS decode_stable
        |FROM d JOIN mn USING (doc_id)""".stripMargin,
    // q387: the q374 recursion one order up — middle-order counts
    // are continuation counts N1+(.w2w3); p is the same single
    // fixed IEEE CASE expression per scored trigram, micro-rounded
    // per row, integer per-doc means.
    "q387_kn_trigram_lm" ->
      """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |tg AS (SELECT unnest(list_transform(range(len(t) - 2),
        |   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS tg
        | FROM tt WHERE doc_id % 2 = 0 AND len(t) >= 3),
        |tg2 AS (SELECT tg, string_split(tg, ' ')[1] AS w1,
        |  string_split(tg, ' ')[2] AS w2, string_split(tg, ' ')[3] AS w3
        | FROM tg),
        |tri AS (SELECT tg, CAST(count(*) AS BIGINT) AS c3
        | FROM tg2 GROUP BY 1),
        |ctx2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2ctx,
        |  CAST(count(DISTINCT w3) AS BIGINT) AS n3 FROM tg2 GROUP BY 1, 2),
        |ty AS (SELECT DISTINCT w1, w2, w3 FROM tg2),
        |cc2 AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS cc2
        | FROM ty GROUP BY 1, 2),
        |ctx1 AS (SELECT w2, CAST(sum(cc2) AS BIGINT) AS cc2ctx,
        |  CAST(count(*) AS BIGINT) AS n2 FROM cc2 GROUP BY 1),
        |ty2 AS (SELECT DISTINCT w2, w3 FROM ty),
        |cc1 AS (SELECT w3, CAST(count(*) AS BIGINT) AS cc1
        | FROM ty2 GROUP BY 1),
        |tots AS (SELECT CAST(count(*) AS BIGINT) AS cc_all,
        |  CAST(count(DISTINCT w3) AS BIGINT) AS n_vocab FROM ty2),
        |sc AS (SELECT doc_id, unnest(list_transform(range(len(t) - 2),
        |   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS tg
        | FROM tt WHERE doc_id % 2 = 1 AND len(t) >= 3),
        |j AS (SELECT sc.doc_id, tri.c3, ctx2.c2ctx, ctx2.n3, cc2.cc2,
        |  ctx1.cc2ctx, ctx1.n2, cc1.cc1, tots.cc_all, tots.n_vocab
        | FROM sc LEFT JOIN tri ON sc.tg = tri.tg
        | LEFT JOIN ctx2 ON string_split(sc.tg, ' ')[1] = ctx2.w1
        |  AND string_split(sc.tg, ' ')[2] = ctx2.w2
        | LEFT JOIN cc2 ON string_split(sc.tg, ' ')[2] = cc2.w2
        |  AND string_split(sc.tg, ' ')[3] = cc2.w3
        | LEFT JOIN ctx1 ON string_split(sc.tg, ' ')[2] = ctx1.w2
        | LEFT JOIN cc1 ON string_split(sc.tg, ' ')[3] = cc1.w3
        | CROSS JOIN tots),
        |pp AS (SELECT doc_id, c3, c2ctx, n3,
        |  CASE WHEN cc2 IS NOT NULL THEN
        |   (CAST(cc2 AS DOUBLE) - 0.75) / CAST(cc2ctx AS DOUBLE)
        |    + 0.75 * CAST(n2 AS DOUBLE) / CAST(cc2ctx AS DOUBLE)
        |      * (CAST(coalesce(cc1, 0) + 1 AS DOUBLE)
        |         / CAST(cc_all + n_vocab AS DOUBLE))
        |  WHEN cc2ctx IS NOT NULL THEN
        |   0.75 * CAST(n2 AS DOUBLE) / CAST(cc2ctx AS DOUBLE)
        |    * (CAST(coalesce(cc1, 0) + 1 AS DOUBLE)
        |       / CAST(cc_all + n_vocab AS DOUBLE))
        |  ELSE CAST(coalesce(cc1, 0) + 1 AS DOUBLE)
        |       / CAST(cc_all + n_vocab AS DOUBLE)
        |  END AS p2
        | FROM j),
        |f AS (SELECT doc_id, c3, c2ctx,
        |  CAST(round(log10(CASE
        |   WHEN c3 IS NOT NULL THEN
        |    (CAST(c3 AS DOUBLE) - 0.75) / CAST(c2ctx AS DOUBLE)
        |     + 0.75 * CAST(n3 AS DOUBLE) / CAST(c2ctx AS DOUBLE) * p2
        |   WHEN c2ctx IS NOT NULL THEN
        |    0.75 * CAST(n3 AS DOUBLE) / CAST(c2ctx AS DOUBLE) * p2
        |   ELSE p2
        |  END) * 1e6) AS BIGINT) AS lp_micro
        | FROM pp)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        | CAST(sum(CASE WHEN c3 IS NULL AND c2ctx IS NOT NULL
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen_tri,
        | CAST(sum(CASE WHEN c2ctx IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_unseen_ctx,
        | CAST(sum(lp_micro) // count(*) AS BIGINT) AS kn3_score_micro
        |FROM f GROUP BY 1""".stripMargin,
    // q388: +1-smoothed multinomial NB; per-(token, lang) log-
    // likelihood micro-rounded, integer per-doc sums + integer
    // prior, argmax ties on lang asc.
    "q388_nb_langid" ->
      """WITH tr AS (SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE doc_id % 2 = 0),
        |cw AS (SELECT lang AS cand, w, CAST(count(*) AS BIGINT) AS cw
        | FROM tr GROUP BY 1, 2),
        |nl AS (SELECT lang AS cand, CAST(count(*) AS BIGINT) AS nl
        | FROM tr GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tr),
        |pri AS (SELECT lang AS cand, CAST(count(*) AS BIGINT) AS nd_l
        | FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |nd AS (SELECT CAST(sum(nd_l) AS BIGINT) AS nd FROM pri),
        |lg AS (SELECT nl.cand, nl.nl, vv.v,
        |  CAST(round(log10(CAST(nd_l AS DOUBLE) / CAST(nd AS DOUBLE))
        |   * 1e6) AS BIGINT) AS prior_micro
        | FROM nl JOIN pri USING (cand) CROSS JOIN vv CROSS JOIN nd),
        |tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        | FROM documents WHERE doc_id % 2 = 1),
        |sc AS (SELECT tok.doc_id, tok.lang, lg.cand,
        |  CAST(sum(CAST(round(log10(
        |     CAST(coalesce(cw.cw, 0) + 1 AS DOUBLE)
        |      / CAST(lg.nl + lg.v AS DOUBLE)) * 1e6) AS BIGINT))
        |   + max(lg.prior_micro) AS BIGINT) AS score_micro
        | FROM tok CROSS JOIN lg
        | LEFT JOIN cw ON cw.cand = lg.cand AND cw.w = tok.w
        | GROUP BY 1, 2, 3),
        |pr AS (SELECT doc_id, lang, cand FROM (SELECT doc_id, lang, cand,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_micro DESC, cand) AS rk FROM sc) t
        | WHERE rk = 1)
        |SELECT lang, cand AS predicted, CAST(count(*) AS BIGINT) AS n_docs
        |FROM pr GROUP BY 1, 2""".stripMargin,
    // q389: truncated RBO at k=20, p=0.9; per-depth term is one
    // fixed IEEE expression micro-rounded on the bounded depth grid.
    "q389_rbo" ->
      """WITH m AS (SELECT doc_id,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |   * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT) AS q,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS s_tok
        | FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |sl AS (SELECT doc_id,
        |  row_number() OVER (ORDER BY q DESC, doc_id) AS rs FROM m),
        |tl AS (SELECT doc_id,
        |  row_number() OVER (ORDER BY s_tok DESC, doc_id) AS rt FROM m),
        |bo AS (SELECT greatest(rs, rt) AS rmax
        | FROM sl JOIN tl USING (doc_id) WHERE rs <= 20 AND rt <= 20),
        |dd AS (SELECT unnest(range(1, 21)) AS d),
        |tm AS (SELECT d,
        |  CAST(sum(CASE WHEN rmax IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS ov
        | FROM dd LEFT JOIN bo ON rmax <= d GROUP BY 1),
        |tm2 AS (SELECT d, ov,
        |  CAST(round((1.0 - 0.9) * power(0.9, d - 1)
        |    * (CAST(ov AS DOUBLE) / CAST(d AS DOUBLE)) * 1e6) AS BIGINT)
        |   AS term_micro
        | FROM tm)
        |SELECT CAST(20 AS BIGINT) AS k,
        | max(CASE WHEN d = 20 THEN ov END) AS overlap_at_k,
        | CAST(sum(term_micro) AS BIGINT) AS rbo_micro
        |FROM tm2""".stripMargin,
    // q390: the q38/q385 centroid+assignment CTEs over the FULL
    // corpus; ARI from the bounded contingency, expected term
    // divides before multiplying (no n^4 product).
    "q390_ari_label_cell" ->
      """WITH q AS (SELECT vec_id, label, list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        | FROM embeddings),
        |m AS (SELECT vec_id, label, v,
        |  CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        | FROM q),
        |cu AS (SELECT label, unnest(v) AS x,
        |  generate_subscripts(v, 1) - 1 AS pos FROM q),
        |cs AS (SELECT label, pos, sum(x) AS sx, count(*) AS nv
        | FROM cu GROUP BY 1, 2),
        |cl AS (SELECT label,
        |  list(CAST(trunc(CAST(sx AS DOUBLE) / nv) AS BIGINT)
        |    ORDER BY pos) AS cv
        | FROM cs GROUP BY label),
        |cn AS (SELECT label, cv,
        |  CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS cn2
        | FROM cl),
        |ac AS (SELECT m.vec_id, m.label AS tl, cn.label,
        |  CAST(CAST(list_sum(list_transform(range(64),
        |      i -> m.v[i+1] * cn.cv[i+1])) AS BIGINT) AS DOUBLE)
        |   / (sqrt(CAST(m.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
        |   AS ccos
        | FROM m, cn),
        |asg AS (SELECT vec_id, tl AS label, cell FROM (
        |  SELECT vec_id, tl, label AS cell, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY ccos DESC, label) AS rk
        |  FROM ac) t WHERE rk = 1),
        |cont AS (SELECT label, cell, CAST(count(*) AS BIGINT) AS nij
        | FROM asg GROUP BY 1, 2),
        |x1 AS (SELECT CAST(sum(CAST(nij AS HUGEINT) * (nij - 1)) // 2
        |   AS BIGINT) AS s_ij,
        |  CAST(count(*) AS BIGINT) AS n_cells_used FROM cont),
        |x2 AS (SELECT CAST(sum(CAST(ai AS HUGEINT) * (ai - 1)) // 2
        |   AS BIGINT) AS s_a,
        |  CAST(count(*) AS BIGINT) AS n_labels,
        |  CAST(sum(ai) AS BIGINT) AS n FROM (
        |   SELECT label, CAST(sum(nij) AS BIGINT) AS ai
        |   FROM cont GROUP BY 1)),
        |x3 AS (SELECT CAST(sum(CAST(bj AS HUGEINT) * (bj - 1)) // 2
        |   AS BIGINT) AS s_b,
        |  CAST(count(*) AS BIGINT) AS n_cells FROM (
        |   SELECT cell, CAST(sum(nij) AS BIGINT) AS bj
        |   FROM cont GROUP BY 1))
        |SELECT n, n_labels, n_cells, s_ij, s_a, s_b,
        | CAST(round((CAST(s_ij AS DOUBLE)
        |    - CAST(s_a AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * (n - 1) // 2 AS DOUBLE)
        |      * CAST(s_b AS DOUBLE))
        |  / ((CAST(s_a AS DOUBLE) + CAST(s_b AS DOUBLE)) / 2.0
        |    - CAST(s_a AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * (n - 1) // 2 AS DOUBLE)
        |      * CAST(s_b AS DOUBLE)) * 1e6) AS BIGINT) AS ari_micro
        |FROM x1, x2, x3""".stripMargin,
    // q391: 2U integer from the bounded cumulative bin frame; tie
    // term on HUGEINT (decimal-38 Spark-side); one fixed IEEE z.
    "q391_mann_whitney" -> mannWhitneyOracle,
    // q392: the PNG dhash popcount replayed from the pixel formula
    // (lossless side exact); the cross-codec hamming bound arrives
    // as a boolean the oracle asserts TRUE.
    "q392_codec_dhash" ->
      """WITH d AS (SELECT doc_id, doc_id % 13 + 4 AS w,
        |  doc_id % 7 + 3 AS h FROM documents),
        |gxs AS (SELECT unnest(range(9)) AS gx),
        |gys AS (SELECT unnest(range(8)) AS gy),
        |g AS (SELECT doc_id, gx, gy,
        |  (((doc_id + 3*((gx*w)//9) + 5*((gy*h)//8)) % 256)
        |   + ((2*doc_id + 7*((gx*w)//9) + 11*((gy*h)//8)) % 256)
        |   + ((3*doc_id + 13*((gx*w)//9) + 17*((gy*h)//8)) % 256)) // 3
        |    AS gray
        | FROM d, gxs, gys)
        |SELECT a.doc_id,
        | CAST(sum(CASE WHEN a.gray // 32 > b.gray // 32
        |   THEN 1 ELSE 0 END) AS BIGINT) AS png_bits_set,
        | TRUE AS hamming_le_bound
        |FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.gy = b.gy
        | AND b.gx = a.gx + 1
        |WHERE a.gx < 8
        |GROUP BY 1""".stripMargin,
    // q393: integer water-filling — capacities 4x supply sorted
    // ascending, waterline at the unique prefix row, div remainder
    // +1 to the first rem uncapped sources by name.
    "q393_unimax_allocation" ->
      """WITH sup AS (SELECT source,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS supply
        | FROM documents GROUP BY 1),
        |c AS (SELECT source, supply, supply * 4 AS cap FROM sup
        | WHERE supply > 0),
        |tot AS (SELECT CAST(sum(supply) AS BIGINT) AS n_total,
        |  CAST(count(*) AS BIGINT) AS m FROM c),
        |rkd AS (SELECT c.source, c.supply, c.cap, tot.m,
        |  tot.n_total // 2 AS budget,
        |  row_number() OVER (ORDER BY cap, source) AS rk,
        |  coalesce(sum(cap) OVER (ORDER BY cap, source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS p_prev,
        |  coalesce(lag(cap) OVER (ORDER BY cap, source), 0) AS prev_cap
        | FROM c, tot),
        |wl AS (SELECT rk AS k_row,
        |  (budget - p_prev) // (m - rk + 1) AS w,
        |  (budget - p_prev) % (m - rk + 1) AS rem
        | FROM rkd
        | WHERE (budget - p_prev) // (m - rk + 1) < cap
        |  AND (budget - p_prev) // (m - rk + 1) >= prev_cap
        | ORDER BY rk LIMIT 1),
        |al AS (SELECT source, supply, cap,
        |  CASE WHEN rk < k_row THEN cap
        |   ELSE w + CASE WHEN rk - k_row + 1 <= rem THEN 1 ELSE 0 END
        |  END AS alloc
        | FROM rkd, wl)
        |SELECT source, supply, CAST(cap AS BIGINT) AS cap,
        | CAST(alloc AS BIGINT) AS alloc,
        | CAST(alloc * 1000 // nullif(supply, 0) AS BIGINT)
        |  AS epochs_milli
        |FROM al
        |UNION ALL
        |SELECT source, supply, CAST(supply * 4 AS BIGINT) AS cap,
        | CAST(0 AS BIGINT) AS alloc, CAST(NULL AS BIGINT) AS epochs_milli
        |FROM sup WHERE supply <= 0""".stripMargin,
    // q394: the q390 assignment chain carrying (v, n2); hard
    // negative = within-cell cross-label argmax cosine, ties
    // (cosine desc, neg_id asc).
    "q394_hard_negatives" ->
      """WITH q AS (SELECT vec_id, label, list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        | FROM embeddings),
        |m AS (SELECT vec_id, label, v,
        |  CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        | FROM q),
        |cu AS (SELECT label, unnest(v) AS x,
        |  generate_subscripts(v, 1) - 1 AS pos FROM q),
        |cs AS (SELECT label, pos, sum(x) AS sx, count(*) AS nv
        | FROM cu GROUP BY 1, 2),
        |cl AS (SELECT label,
        |  list(CAST(trunc(CAST(sx AS DOUBLE) / nv) AS BIGINT)
        |    ORDER BY pos) AS cv
        | FROM cs GROUP BY label),
        |cn AS (SELECT label, cv,
        |  CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS cn2
        | FROM cl),
        |ac AS (SELECT m.vec_id, m.label AS tl, m.v, m.n2, cn.label,
        |  CAST(CAST(list_sum(list_transform(range(64),
        |      i -> m.v[i+1] * cn.cv[i+1])) AS BIGINT) AS DOUBLE)
        |   / (sqrt(CAST(m.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
        |   AS ccos
        | FROM m, cn),
        |asg AS (SELECT vec_id, tl AS label, v, n2, cell FROM (
        |  SELECT vec_id, tl, v, n2, label AS cell, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY ccos DESC, label) AS rk
        |  FROM ac) t WHERE rk = 1),
        |p AS (SELECT a.vec_id, a.label, b.vec_id AS neg_id,
        |  b.label AS neg_label,
        |  CAST(CAST(list_sum(list_transform(range(64),
        |      i -> a.v[i+1] * b.v[i+1])) AS BIGINT) AS DOUBLE)
        |   / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
        |   AS cosine
        | FROM asg a JOIN asg b ON a.cell = b.cell
        |  AND a.label <> b.label)
        |SELECT vec_id, label, neg_id, neg_label, cosine FROM (
        | SELECT *, row_number() OVER (PARTITION BY vec_id
        |   ORDER BY cosine DESC, neg_id) AS rk FROM p) t
        |WHERE rk = 1""".stripMargin,
    // q395: both selectors' oracle chains verbatim, agreement over
    // the joined (odd-doc) universe; kappa one fixed IEEE expr.
    "q395_selector_agreement" ->
      s"""WITH tt AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1),
        |   i -> t[i+1] || ' ' || t[i+2])) AS bg
        | FROM tt WHERE len(t) >= 2),
        |hb AS (SELECT doc_id,
        |  ${hex8Sql("concat('dsir|', bg)")} % 4096 AS b FROM bg),
        |c AS (SELECT b,
        |  sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ct,
        |  sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS cr
        | FROM hb GROUP BY 1),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM c),
        |sc AS (SELECT doc_id, count(*) AS nb,
        |  sum(ln(ct + 1) - ln(cr + 1)) AS ssum
        | FROM hb JOIN c USING (b) WHERE doc_id % 2 = 1 GROUP BY 1),
        |fin AS (SELECT doc_id, nb,
        |  round(ssum - nb * (ln(nt + 4096) - ln(nr + 4096)), 4)
        |   AS dsir_score FROM sc, tot),
        |dsel AS (SELECT doc_id FROM fin
        | ORDER BY dsir_score DESC, doc_id LIMIT 50),
        |tok AS (SELECT doc_id, lang,
        |  unnest(string_split(text, ' ')) AS w FROM documents),
        |v AS (SELECT w, CAST(count(*) AS BIGINT) AS cg,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS cin FROM tok GROUP BY 1),
        |tt2 AS (SELECT CAST(sum(cg) AS BIGINT) AS ng,
        |  CAST(sum(cin) AS BIGINT) AS nin,
        |  CAST(count(*) AS BIGINT) AS vv FROM v),
        |lp AS (SELECT w, CAST(round((
        |   ln(CAST(cin + 1 AS DOUBLE) / CAST(nin + vv AS DOUBLE))
        |   - ln(CAST(cg + 1 AS DOUBLE) / CAST(ng + vv AS DOUBLE))) * 1e6)
        |  AS BIGINT) AS lp_micro FROM v, tt2),
        |mls AS (SELECT doc_id,
        |  CAST(sum(lp_micro) // count(*) AS BIGINT) AS ml_micro
        | FROM tok JOIN lp USING (w) GROUP BY 1),
        |msel AS (SELECT doc_id FROM mls
        | ORDER BY ml_micro DESC, doc_id LIMIT 50),
        |fl AS (SELECT fin.doc_id,
        |  fin.doc_id IN (SELECT doc_id FROM dsel) AS sd,
        |  fin.doc_id IN (SELECT doc_id FROM msel) AS sm
        | FROM fin JOIN mls ON fin.doc_id = mls.doc_id),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CASE WHEN sd THEN 1 ELSE 0 END) AS BIGINT) AS n_dsir,
        | CAST(sum(CASE WHEN sm THEN 1 ELSE 0 END) AS BIGINT) AS n_ml,
        | CAST(sum(CASE WHEN sd AND sm THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_both FROM fl),
        |kk AS (SELECT *, n - n_dsir - n_ml + n_both AS n00,
        | CAST(n_dsir AS DOUBLE) * CAST(n_ml AS DOUBLE)
        |   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |  + CAST(n - n_dsir AS DOUBLE) * CAST(n - n_ml AS DOUBLE)
        |   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe FROM ag)
        |SELECT n, n_dsir, n_ml, n_both,
        | n_both * 1000000 // nullif(n_dsir + n_ml - n_both, 0)
        |  AS jaccard_ppm,
        | CAST(round((CAST(n_both + n00 AS DOUBLE) / CAST(n AS DOUBLE)
        |   - pe) / (1.0 - pe) * 1e6) AS BIGINT) AS kappa_micro
        |FROM kk""".stripMargin,
    // q396: q22's band candidates, clipped multiset bigram match,
    // integer ppm P/R and the 2m/(t1+t2) harmonic F1.
    "q396_rouge_pairs" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |tt0 AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |bgc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(tk) - 1),
        |    i -> tk[i+1] || ' ' || tk[i+2])) AS g
        |  FROM tt0 WHERE len(tk) >= 2) GROUP BY 1, 2),
        |tots AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot
        | FROM bgc GROUP BY 1),
        |mm AS (SELECT cand.d1, cand.d2,
        |  CAST(sum(least(b1.c, b2.c)) AS BIGINT) AS match2
        | FROM cand JOIN bgc b1 ON b1.doc_id = cand.d1
        |  JOIN bgc b2 ON b2.doc_id = cand.d2 AND b2.g = b1.g
        | GROUP BY 1, 2)
        |SELECT cand.d1, cand.d2,
        | coalesce(match2, 0) AS match2, t1.tot AS tot1, t2.tot AS tot2,
        | coalesce(match2, 0) * 1000000 // t1.tot AS recall_ppm,
        | coalesce(match2, 0) * 1000000 // t2.tot AS precision_ppm,
        | 2 * coalesce(match2, 0) * 1000000 // (t1.tot + t2.tot) AS f_ppm
        |FROM cand
        | LEFT JOIN mm ON mm.d1 = cand.d1 AND mm.d2 = cand.d2
        | JOIN tots t1 ON t1.doc_id = cand.d1
        | JOIN tots t2 ON t2.doc_id = cand.d2""".stripMargin,
    // q397: the q375 ownership frame; positional trigrams bucketed
    // into thirds by start position; integer ppm per (source, third).
    "q397_positional_dup" ->
      s"""WITH $shinglesCte,
        |own AS (SELECT sh2 AS sh, CAST(count(*) AS BIGINT) AS docs_with
        | FROM (SELECT doc_id, unnest(sh) AS sh2 FROM t) GROUP BY 1),
        |d AS (SELECT doc_id, source, string_split(text, ' ') AS tk
        |  FROM documents),
        |sp AS (SELECT doc_id, source, len(tk) - 2 AS n_sp,
        |  unnest(range(len(tk) - 2)) AS pos, tk
        | FROM d WHERE len(tk) >= 3),
        |sp2 AS (SELECT source, pos * 3 // n_sp AS bucket,
        |  tk[pos+1] || ' ' || tk[pos+2] || ' ' || tk[pos+3] AS sh
        | FROM sp)
        |SELECT source, CAST(bucket AS BIGINT) AS bucket,
        | CAST(count(*) AS BIGINT) AS n_spans,
        | CAST(sum(CASE WHEN docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_dup,
        | CAST(sum(CASE WHEN docs_with > 1 THEN 1 ELSE 0 END) * 1000000
        |  // count(*) AS BIGINT) AS dup_ppm
        |FROM sp2 JOIN own USING (sh)
        |GROUP BY 1, 2""".stripMargin,
    // q398: burstiness = cf/df integer ppm, min-cf floor, top-25 by
    // (burst desc, word asc).
    "q398_burstiness" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split(text, ' ')) AS w FROM documents),
        |st AS (SELECT w, CAST(count(*) AS BIGINT) AS cf,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        | FROM tok GROUP BY 1),
        |b AS (SELECT w, cf, df, cf * 1000000 // df AS burst_ppm
        | FROM st WHERE cf >= 20)
        |SELECT w, cf, df, burst_ppm, CAST(rank AS BIGINT) AS rank
        |FROM (SELECT *, row_number() OVER (
        |   ORDER BY burst_ppm DESC, w) AS rank FROM b) t
        |WHERE rank <= 25""".stripMargin,
    // q399: integer per-bin means on the q378 length bins; the lag
    // window runs over the bounded bin frame.
    "q399_monotone_audit" ->
      """WITH sc AS (SELECT
        |  least(CAST(length(text) AS BIGINT) // 50, 11) AS bin,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |   * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT)
        |   AS q
        | FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(q) AS BIGINT) AS sq FROM sc GROUP BY 1),
        |m AS (SELECT bin, n_docs, sq // n_docs AS mean_q_ppm FROM bins)
        |SELECT bin, n_docs, CAST(mean_q_ppm AS BIGINT) AS mean_q_ppm,
        | CAST(lag(mean_q_ppm) OVER (ORDER BY bin) AS BIGINT)
        |  AS prev_mean_q_ppm,
        | lag(mean_q_ppm) OVER (ORDER BY bin) IS NOT NULL
        |  AND mean_q_ppm > lag(mean_q_ppm) OVER (ORDER BY bin)
        |  AS inverted
        |FROM m""".stripMargin,
    // q400: q28 quality cut + q384 ExactSubstr survival cut + q393
    // water-filling over the surviving supply, per-source accounting.
    "q400_curate_v2" ->
      """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |gp AS (SELECT doc_id, unnest(range(len(tk) - 4)) AS pos, tk
        | FROM tt WHERE len(tk) >= 5),
        |g2 AS (SELECT doc_id, pos,
        |  tk[pos+1] || ' ' || tk[pos+2] || ' ' || tk[pos+3] || ' '
        |   || tk[pos+4] || ' ' || tk[pos+5] AS g FROM gp),
        |own AS (SELECT g, CAST(count(*) AS BIGINT) AS docs_with,
        |  min(doc_id) AS owner
        | FROM (SELECT DISTINCT doc_id, g FROM g2) GROUP BY 1),
        |cut AS (SELECT doc_id, pos FROM g2 JOIN own USING (g)
        | WHERE docs_with >= 2 AND owner <> doc_id),
        |cov AS (SELECT DISTINCT doc_id, pos + off AS p
        | FROM cut CROSS JOIN (SELECT unnest(range(5)) AS off) o),
        |sp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut_tokens
        | FROM cov GROUP BY 1),
        |qd AS (SELECT doc_id, source,
        |  (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' '))) * 0.5
        |   + (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |       x -> x IN ('the', 'a'))) AS DOUBLE)
        |     / len(string_split(text, ' '))) * 0.5 >= 0.7 AS qpass
        | FROM documents),
        |st AS (SELECT tt.doc_id, qd.source, qd.qpass,
        |  CAST(len(tk) AS BIGINT) AS n_toks,
        |  CAST(coalesce(sp.n_cut_tokens, 0) AS BIGINT) AS n_cut_tokens,
        |  (len(tk) - coalesce(sp.n_cut_tokens, 0)) * 1000000
        |    // nullif(len(tk), 0) AS surviving_ppm
        | FROM tt JOIN qd USING (doc_id) LEFT JOIN sp USING (doc_id)),
        |st2 AS (SELECT *, qpass AND surviving_ppm >= 800000 AS kept
        | FROM st),
        |acct AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_kept,
        |  CAST(sum(n_toks) AS BIGINT) AS tokens_raw,
        |  CAST(sum(CASE WHEN kept THEN n_toks - n_cut_tokens ELSE 0 END)
        |   AS BIGINT) AS tokens_kept
        | FROM st2 GROUP BY 1),
        |c AS (SELECT source, tokens_kept AS supply,
        |  tokens_kept * 4 AS cap FROM acct WHERE tokens_kept > 0),
        |tot AS (SELECT CAST(sum(supply) AS BIGINT) AS n_total,
        |  CAST(count(*) AS BIGINT) AS m FROM c),
        |rkd AS (SELECT c.source, c.supply, c.cap, tot.m,
        |  tot.n_total // 2 AS budget,
        |  row_number() OVER (ORDER BY cap, source) AS rk,
        |  coalesce(sum(cap) OVER (ORDER BY cap, source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS p_prev,
        |  coalesce(lag(cap) OVER (ORDER BY cap, source), 0) AS prev_cap
        | FROM c, tot),
        |wl AS (SELECT rk AS k_row,
        |  (budget - p_prev) // (m - rk + 1) AS w,
        |  (budget - p_prev) % (m - rk + 1) AS rem
        | FROM rkd
        | WHERE (budget - p_prev) // (m - rk + 1) < cap
        |  AND (budget - p_prev) // (m - rk + 1) >= prev_cap
        | ORDER BY rk LIMIT 1),
        |al AS (SELECT source, supply,
        |  CASE WHEN rk < k_row THEN cap
        |   ELSE w + CASE WHEN rk - k_row + 1 <= rem THEN 1 ELSE 0 END
        |  END AS alloc
        | FROM rkd, wl),
        |al2 AS (SELECT source, supply, alloc FROM al
        | UNION ALL
        | SELECT source, tokens_kept AS supply, CAST(0 AS BIGINT)
        | FROM acct WHERE tokens_kept <= 0)
        |SELECT acct.source, n_docs, n_kept, tokens_raw, tokens_kept,
        | CAST(alloc AS BIGINT) AS alloc,
        | CAST(alloc * 1000 // nullif(supply, 0) AS BIGINT)
        |  AS epochs_milli
        |FROM acct JOIN al2 USING (source)""".stripMargin,
    // q401: classification is a pure per-doc function of the
    // frozen model, so the streamed confusion equals batch q388 —
    // the oracle is the q388 SQL verbatim.
    "q401_stream_nb_langid" ->
      """WITH tr AS (SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE doc_id % 2 = 0),
        |cw AS (SELECT lang AS cand, w, CAST(count(*) AS BIGINT) AS cw
        | FROM tr GROUP BY 1, 2),
        |nl AS (SELECT lang AS cand, CAST(count(*) AS BIGINT) AS nl
        | FROM tr GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tr),
        |pri AS (SELECT lang AS cand, CAST(count(*) AS BIGINT) AS nd_l
        | FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |nd AS (SELECT CAST(sum(nd_l) AS BIGINT) AS nd FROM pri),
        |lg AS (SELECT nl.cand, nl.nl, vv.v,
        |  CAST(round(log10(CAST(nd_l AS DOUBLE) / CAST(nd AS DOUBLE))
        |   * 1e6) AS BIGINT) AS prior_micro
        | FROM nl JOIN pri USING (cand) CROSS JOIN vv CROSS JOIN nd),
        |tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        | FROM documents WHERE doc_id % 2 = 1),
        |sc AS (SELECT tok.doc_id, tok.lang, lg.cand,
        |  CAST(sum(CAST(round(log10(
        |     CAST(coalesce(cw.cw, 0) + 1 AS DOUBLE)
        |      / CAST(lg.nl + lg.v AS DOUBLE)) * 1e6) AS BIGINT))
        |   + max(lg.prior_micro) AS BIGINT) AS score_micro
        | FROM tok CROSS JOIN lg
        | LEFT JOIN cw ON cw.cand = lg.cand AND cw.w = tok.w
        | GROUP BY 1, 2, 3),
        |pr AS (SELECT doc_id, lang, cand FROM (SELECT doc_id, lang, cand,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_micro DESC, cand) AS rk FROM sc) t
        | WHERE rk = 1)
        |SELECT lang, cand AS predicted, CAST(count(*) AS BIGINT) AS n_docs
        |FROM pr GROUP BY 1, 2""".stripMargin,
    // q402: dense hourly grid, integer |delta| sums, ppm ratio.
    "q402_mase" ->
      """WITH ev AS (SELECT event_type,
        |  epoch_us(ts) // 3600000000 AS h FROM events),
        |cts AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS n
        | FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
        |grid AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS h
        | FROM (SELECT DISTINCT event_type FROM ev), b),
        |ser AS (SELECT grid.event_type, grid.h, coalesce(n, 0) AS n
        | FROM grid LEFT JOIN cts USING (event_type, h)),
        |d AS (SELECT event_type, n, lag(n, 1) OVER w AS lag1,
        |  lag(n, 24) OVER w AS lag24 FROM ser
        | WINDOW w AS (PARTITION BY event_type ORDER BY h))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        | CAST(sum(abs(n - lag1)) AS BIGINT) AS sae_naive,
        | CAST(sum(abs(n - lag24)) AS BIGINT) AS sae_seasonal,
        | CAST(sum(abs(n - lag24)) * 1000000
        |   // nullif(sum(abs(n - lag1)), 0) AS BIGINT) AS mase_ppm
        |FROM d WHERE lag24 IS NOT NULL GROUP BY 1""".stripMargin,
    // q403: integer ppm bin forecasts/outcomes; squared-gap sums on
    // HUGEINT (decimal-38 Spark-side); UNC exactly integer.
    "q403_brier_decomposition" ->
      """WITH sc AS (SELECT
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |   * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT)
        |   AS score,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        | FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |bins AS (SELECT score // 100000 AS b,
        |  CAST(count(*) AS BIGINT) AS n_k,
        |  CAST(sum(score) AS BIGINT) AS s_score,
        |  CAST(sum(pos) AS BIGINT) AS n_pos FROM sc GROUP BY 1),
        |bb AS (SELECT b, n_k, n_pos, s_score // n_k AS pbar,
        |  n_pos * 1000000 // n_k AS obar_k FROM bins),
        |tot AS (SELECT CAST(sum(n_k) AS BIGINT) AS n,
        |  CAST(sum(n_pos) AS BIGINT) AS np FROM bb),
        |t2 AS (SELECT n, np * 1000000 // n AS obar FROM tot),
        |ag AS (SELECT max(n) AS n, max(obar) AS obar,
        |  sum(CAST(n_k AS HUGEINT) * (pbar - obar_k) * (pbar - obar_k))
        |   AS s_rel,
        |  sum(CAST(n_k AS HUGEINT) * (obar_k - obar) * (obar_k - obar))
        |   AS s_res
        | FROM bb, t2)
        |SELECT CAST(n AS BIGINT) AS n,
        | CAST(round(CAST(s_rel AS DOUBLE)
        |   / (CAST(n AS DOUBLE) * 1e6)) AS BIGINT) AS rel_micro,
        | CAST(round(CAST(s_res AS DOUBLE)
        |   / (CAST(n AS DOUBLE) * 1e6)) AS BIGINT) AS res_micro,
        | CAST(obar * (1000000 - obar) // 1000000 AS BIGINT) AS unc_micro,
        | CAST(round(CAST(s_rel AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6))
        |  - round(CAST(s_res AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6))
        |  + obar * (1000000 - obar) // 1000000 AS BIGINT) AS brier_micro
        |FROM ag""".stripMargin,
    // q404: freq-of-frequencies per source; bias-corrected form at
    // f2 = 0; pure integer milli.
    "q404_chao1" ->
      """WITH wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        | FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |   FROM documents) GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS v,
        | CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        | CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        | CAST(count(*) * 1000 + CASE
        |  WHEN sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) > 0 THEN
        |   sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |    * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000
        |    // (2 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END))
        |  ELSE sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |    * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1) * 1000 // 2
        | END AS BIGINT) AS chao1_milli
        |FROM wc GROUP BY 1""".stripMargin,
    // q405: freq-of-frequencies grid r=1..10, r* integer milli,
    // GT unseen mass in ppm.
    "q405_good_turing" ->
      """WITH wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        | FROM (SELECT unnest(string_split(text, ' ')) AS w
        |   FROM documents) GROUP BY 1),
        |fof AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r
        | FROM wc GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        | FROM wc),
        |grid AS (SELECT unnest(range(1, 11)) AS r)
        |SELECT grid.r, coalesce(f1.n_r, 0) AS n_r,
        | coalesce(f2.n_r, 0) AS n_r_next,
        | (grid.r + 1) * coalesce(f2.n_r, 0) * 1000
        |   // nullif(coalesce(f1.n_r, 0), 0) AS r_star_milli,
        | n1 * 1000000 // n_tokens AS p_unseen_ppm
        |FROM grid LEFT JOIN fof f1 ON f1.r = grid.r
        | LEFT JOIN fof f2 ON f2.r = grid.r + 1
        | CROSS JOIN tot""".stripMargin,
    // q406: per-doc ln micro-rounded to integer; sums order-free;
    // sigma/median one fixed IEEE expression per source row.
    "q406_lognormal_fit" ->
      """WITH lens AS (SELECT source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        | FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |l AS (SELECT source,
        |  CAST(round(ln(n_toks) * 1e6) AS BIGINT) AS l FROM lens),
        |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(l) AS BIGINT) AS sl,
        |  sum(CAST(l AS HUGEINT) * l) AS sl2 FROM l GROUP BY 1)
        |SELECT source, n, sl // n AS mu_micro,
        | CAST(round(sqrt((CAST(sl2 AS DOUBLE)
        |   - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(n AS DOUBLE))
        |  / CAST(n AS DOUBLE))) AS BIGINT) AS sigma_micro,
        | CAST(round(exp(CAST(sl // n AS DOUBLE) / 1e6) * 1000)
        |  AS BIGINT) AS median_toks_milli
        |FROM ag""".stripMargin,
    // q407: q22's candidates; shared-anchor dotplot cells under the
    // per-doc per-gram occurrence cap (maxOcc = 8, the fan-out
    // knob); maximal diagonal runs by island detection per
    // (pair, diagonal).
    "q407_longest_shared_span" ->
      s"""WITH $shinglesCte,
        |$minhashSigCte,
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        | FROM bands a JOIN bands b ON a.band = b.band
        |  AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |tt0 AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |gp AS (SELECT doc_id, unnest(range(len(tk) - 2)) AS pos, tk
        | FROM tt0 WHERE len(tk) >= 3),
        |g2a AS (SELECT doc_id, pos,
        |  tk[pos+1] || ' ' || tk[pos+2] || ' ' || tk[pos+3] AS g
        | FROM gp),
        |g2 AS (SELECT doc_id, pos, g FROM (
        |  SELECT doc_id, pos, g, row_number() OVER (
        |    PARTITION BY doc_id, g ORDER BY pos) AS occ
        |  FROM g2a) z WHERE occ <= 8),
        |cells AS (SELECT DISTINCT cand.d1, cand.d2, a.pos AS p1,
        |  b.pos AS p2, a.pos - b.pos AS diag
        | FROM cand JOIN g2 a ON a.doc_id = cand.d1
        |  JOIN g2 b ON b.doc_id = cand.d2 AND b.g = a.g),
        |isl AS (SELECT d1, d2, diag,
        |  p1 - row_number() OVER (PARTITION BY d1, d2, diag
        |    ORDER BY p1) AS grp FROM cells),
        |runs AS (SELECT d1, d2, diag, grp,
        |  CAST(count(*) AS BIGINT) AS n_anchors
        | FROM isl GROUP BY 1, 2, 3, 4)
        |SELECT d1, d2,
        | CAST(max(n_anchors) + 2 AS BIGINT) AS max_shared_span_tokens
        |FROM runs GROUP BY 1, 2""".stripMargin,
    // q408: the q365 suffix-sum frame; J integer ppm; argmax with
    // (J desc, threshold asc) ties on the bounded grid.
    "q408_youden_cut" ->
      """WITH sc AS (SELECT
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |   * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT)
        |   AS score,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        | FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |b AS (SELECT score // 100000 AS b, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos FROM sc GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
        |  CAST(sum(n_pos) AS BIGINT) AS p_total FROM b),
        |th AS (SELECT unnest(range(11)) AS t),
        |g AS (SELECT th.t,
        |  CAST(coalesce(sum(b.n), 0) AS BIGINT) AS n_pred_pos,
        |  CAST(coalesce(sum(b.n_pos), 0) AS BIGINT) AS tp
        | FROM th LEFT JOIN b ON b.b >= th.t GROUP BY 1),
        |f AS (SELECT g.t, tp, n_pred_pos - tp AS fp,
        |  tp * 1000000 // nullif(p_total, 0)
        |   - (n_pred_pos - tp) * 1000000 // nullif(n_total - p_total, 0)
        |   AS j_ppm
        | FROM g, tot)
        |SELECT CAST(t * 100000 AS BIGINT) AS threshold_ppm, tp,
        | CAST(fp AS BIGINT) AS fp, CAST(j_ppm AS BIGINT) AS j_ppm
        |FROM (SELECT *, row_number() OVER (ORDER BY j_ppm DESC, t)
        |   AS rk FROM f) z WHERE rk = 1""".stripMargin,
    // q409: WAV is lossless — the oracle replays the staged sample
    // formula (frame f, channel c of doc_id) and the decoded stats
    // must match exactly; zero crossings via a per-doc lag window
    // over channel 0 (bounded by one waveform's frames).
    "q409_wav_decode" -> wavDecodeOracle,
    // q410/q411: the unigram-LM tokenizer protocol replayed — seed =
    // singles + top-200 substrings, one longest-match E-step prune
    // to 50, final E-step counts; the walk is a recursive CTE (one
    // deterministic path per word).
    "q410_unigram_train" ->
      s"""WITH RECURSIVE $unigramTrainCtes,
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c2)
        |SELECT piece, CAST(len(piece) AS BIGINT) AS piece_len,
        | CAST(n AS BIGINT) AS n_uses,
        | CAST(round(log10(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE))
        |  * 1e6) AS BIGINT) AS lp_micro
        |FROM c2, tot""".stripMargin,
    "q411_unigram_apply" -> unigramApplyOracle,
    // q412: maintenance is gated stream ≡ batch — the q384 oracle
    // verbatim (the q388/q401 discipline).
    "q412_stream_exact_substr" -> exactSubstrOracle,
    // q413-q415/q418: WAV is lossless — the oracles replay the ch0
    // sample formula over (frame, window) grids; per-doc windows
    // bounded by one waveform's frames.
    "q413_wav_energy" ->
      """WITH d AS (SELECT doc_id, doc_id % 400 + 50 AS frames
        |  FROM documents),
        |fr AS (SELECT doc_id, unnest(range(frames)) AS f FROM d),
        |sm AS (SELECT doc_id, f,
        |  (doc_id * 31 + f * 17) % 65536 - 32768 AS v FROM fr),
        |w AS (SELECT doc_id, f, v, f // 50 AS win,
        |  lag(v) OVER (PARTITION BY doc_id ORDER BY f) AS pv FROM sm)
        |SELECT doc_id, CAST(win AS BIGINT) AS win,
        | CAST(count(*) AS BIGINT) AS n_f,
        | CAST(sum(v * v) AS BIGINT) AS energy,
        | CAST(max(abs(v)) AS BIGINT) AS peak_abs,
        | CAST(sum(CASE WHEN f % 50 > 0 AND (v < 0) <> (pv < 0)
        |   THEN 1 ELSE 0 END) AS BIGINT) AS zc_w
        |FROM w GROUP BY 1, 2""".stripMargin,
    "q414_wav_fingerprint" ->
      """WITH d AS (SELECT doc_id, doc_id % 400 + 50 AS frames
        |  FROM documents),
        |fr AS (SELECT doc_id, unnest(range(frames)) AS f FROM d),
        |sm AS (SELECT doc_id, f,
        |  (doc_id * 31 + f * 17) % 65536 - 32768 AS v FROM fr),
        |e AS (SELECT doc_id, f // 50 AS win, sum(v * v) AS e
        | FROM sm GROUP BY 1, 2),
        |p AS (SELECT doc_id, win, e,
        |  lead(e) OVER (PARTITION BY doc_id ORDER BY win) AS en FROM e)
        |SELECT doc_id, CAST(win AS BIGINT) AS win,
        | CAST(CASE WHEN e > en THEN 1 ELSE 0 END AS BIGINT) AS bit
        |FROM p WHERE en IS NOT NULL""".stripMargin,
    "q415_wav_resample" ->
      """WITH d AS (SELECT doc_id, doc_id % 400 + 50 AS frames
        |  FROM documents),
        |fr AS (SELECT doc_id, unnest(range(frames)) AS f FROM d),
        |sm AS (SELECT doc_id, f,
        |  (doc_id * 31 + f * 17) % 65536 - 32768 AS v FROM fr),
        |ds AS (SELECT doc_id, f, v,
        |  lag(v) OVER (PARTITION BY doc_id ORDER BY f) AS pv
        | FROM sm WHERE f % 2 = 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames_ds,
        | CAST(sum(v) AS BIGINT) AS sum_ds,
        | CAST(sum(v * v) AS BIGINT) AS sum_sq_ds,
        | CAST(sum(CASE WHEN pv IS NOT NULL AND (v < 0) <> (pv < 0)
        |   THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross_ds
        |FROM ds GROUP BY 1""".stripMargin,
    // q416: the q391 bin frame; pair masses on HUGEINT→DECIMAL(38,0).
    "q416_cliffs_delta" ->
      """WITH sc AS (SELECT
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |   * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT)
        |   // 100000 AS b,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        | FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |bins AS (SELECT b, CAST(sum(pos) AS BIGINT) AS n1i,
        |  CAST(sum(1 - pos) AS BIGINT) AS n2i FROM sc GROUP BY 1),
        |cum AS (SELECT *, coalesce(sum(n2i) OVER (ORDER BY b
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |  AS cum2lt FROM bins),
        |agg AS (SELECT CAST(sum(n1i) AS BIGINT) AS n1,
        |  CAST(sum(n2i) AS BIGINT) AS n2,
        |  sum(CAST(n1i AS HUGEINT) * cum2lt) AS n_gt,
        |  sum(CAST(n1i AS HUGEINT) * n2i) AS n_tie FROM cum),
        |f AS (SELECT n1, n2, n_gt, n_tie,
        |  CAST(n1 AS HUGEINT) * n2 - n_gt - n_tie AS n_lt FROM agg)
        |SELECT n1, n2, CAST(n_gt AS BIGINT) AS n_gt,
        | CAST(n_lt AS BIGINT) AS n_lt,
        | CAST(n_tie AS BIGINT) AS n_tie,
        | CAST(round(CAST(n_gt - n_lt AS DOUBLE)
        |  / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) * 1e6) AS BIGINT)
        |  AS delta_micro
        |FROM f""".stripMargin,
    // q417: the q408 suffix-sum grid; per-threshold AP terms as
    // exact integer divisions, products on HUGEINT.
    "q417_average_precision" ->
      """WITH sc AS (SELECT
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |   * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT)
        |   AS score,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        | FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |b AS (SELECT score // 100000 AS b, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos FROM sc GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
        |  CAST(sum(n_pos) AS BIGINT) AS p_total FROM b),
        |th AS (SELECT unnest(range(11)) AS t),
        |g AS (SELECT th.t,
        |  CAST(coalesce(sum(b.n), 0) AS BIGINT) AS n_pred_pos,
        |  CAST(coalesce(sum(b.n_pos), 0) AS BIGINT) AS tp
        | FROM th LEFT JOIN b ON b.b >= th.t GROUP BY 1),
        |g2 AS (SELECT t, tp, n_pred_pos - tp AS fp,
        |  coalesce(lead(tp) OVER (ORDER BY t), 0) AS tp_prev FROM g)
        |SELECT n_total, p_total,
        | CAST(sum(coalesce(CAST(CAST(tp - tp_prev AS HUGEINT) * tp
        |    * 1000000 // (CAST(tp + fp AS HUGEINT)
        |      * nullif(p_total, 0)) AS BIGINT), 0)) AS BIGINT)
        |  AS ap_micro
        |FROM g2, tot GROUP BY 1, 2""".stripMargin,
    "q418_wav_quantize_dhash" ->
      """WITH d AS (SELECT doc_id, doc_id % 400 + 50 AS frames
        |  FROM documents),
        |fr AS (SELECT doc_id, unnest(range(frames)) AS f FROM d),
        |sm AS (SELECT doc_id, f,
        |  (doc_id * 31 + f * 17) % 65536 - 32768 AS v FROM fr),
        |sm2 AS (SELECT doc_id, f, v, (v // 256) * 256 AS vq FROM sm),
        |e AS (SELECT doc_id, f // 50 AS win, sum(v * v) AS e,
        |  sum(vq * vq) AS eq FROM sm2 GROUP BY 1, 2),
        |p AS (SELECT doc_id, win, e, eq,
        |  lead(e) OVER (PARTITION BY doc_id ORDER BY win) AS en,
        |  lead(eq) OVER (PARTITION BY doc_id ORDER BY win) AS eqn
        | FROM e)
        |SELECT doc_id, CAST(count(en) AS BIGINT) AS n_bits,
        | CAST(sum(CASE WHEN en IS NOT NULL AND e > en
        |   THEN 1 ELSE 0 END) AS BIGINT) AS bits_orig,
        | CAST(sum(CASE WHEN eqn IS NOT NULL AND eq > eqn
        |   THEN 1 ELSE 0 END) AS BIGINT) AS bits_quant,
        | CAST(sum(CASE WHEN en IS NOT NULL
        |   AND (e > en) <> (eq > eqn) THEN 1 ELSE 0 END) AS BIGINT)
        |  AS hamming
        |FROM p GROUP BY 1""".stripMargin,
    // q419: stream ≡ batch — the q409 oracle verbatim.
    "q419_stream_wav_stats" -> wavDecodeOracle,
    // q420: the staged twins, fingerprints, banding, and hamming
    // verification all replayed from the sample formula.
    "q420_wav_neardup" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id AS src, FALSE AS q
        |  FROM documents
        | UNION ALL
        | SELECT doc_id + 10000000, doc_id, TRUE FROM documents
        | WHERE doc_id % 10 = 0),
        |d AS (SELECT id, src, q, src % 400 + 50 AS frames FROM ids),
        |fr AS (SELECT id, q, src, unnest(range(frames)) AS f FROM d),
        |sm AS (SELECT id, f,
        |  CASE WHEN q
        |   THEN (((src * 31 + f * 17) % 65536 - 32768) // 256) * 256
        |   ELSE (src * 31 + f * 17) % 65536 - 32768 END AS v FROM fr),
        |e AS (SELECT id, f // 10 AS win, sum(v * v) AS e
        | FROM sm GROUP BY 1, 2),
        |p AS (SELECT id, win, e,
        |  lead(e) OVER (PARTITION BY id ORDER BY win) AS en FROM e),
        |fp AS (SELECT id, string_agg(CASE WHEN e > en THEN '1'
        |    ELSE '0' END, '' ORDER BY win) AS bits
        | FROM p WHERE en IS NOT NULL GROUP BY 1),
        |fpn AS (SELECT id, bits, CAST(len(bits) AS BIGINT) AS nb
        | FROM fp WHERE len(bits) >= 4),
        |bands AS (SELECT id, bits, nb, b AS band,
        |  substr(bits, CAST(b * nb // 4 AS INT) + 1,
        |    CAST((b + 1) * nb // 4 - b * nb // 4 AS INT)) AS slice
        | FROM fpn CROSS JOIN (SELECT unnest(range(4)) AS b) bb),
        |cand AS (SELECT DISTINCT a.id AS d1, b.id AS d2,
        |  a.bits AS b1, b.bits AS b2, a.nb
        | FROM bands a JOIN bands b ON a.nb = b.nb AND a.band = b.band
        |  AND a.slice = b.slice AND a.id < b.id),
        |h AS (SELECT d1, d2, nb AS n_bits,
        |  CAST(len(list_filter(range(nb), i ->
        |    substr(b1, CAST(i AS INT) + 1, 1)
        |     <> substr(b2, CAST(i AS INT) + 1, 1))) AS BIGINT)
        |   AS hamming
        | FROM cand)
        |SELECT d1, d2, n_bits, hamming FROM h
        |WHERE hamming <= 2""".stripMargin,
    // q421: q356's wedge CTEs with the rarity weight — per-neighbor
    // micro-rounded 1/ln(deg), integer-summed per pair.
    "q421_adamic_adar" ->
      """WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |c AS (SELECT a.l_partkey AS d1, b.l_partkey AS d2
        | FROM it a JOIN it b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT d1 AS v, d2 AS u FROM c UNION ALL SELECT d2, d1 FROM c),
        |dg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg,
        |  CAST(round(1e6 / ln(count(*))) AS BIGINT) AS w_micro
        | FROM adj GROUP BY 1 HAVING count(*) >= 2),
        |w AS (SELECT a.u AS v, b.u AS u,
        |  CAST(count(*) AS BIGINT) AS common,
        |  CAST(sum(dg.w_micro) AS BIGINT) AS aa_micro
        | FROM adj a JOIN adj b ON a.v = b.v AND a.u < b.u
        |  JOIN dg ON dg.v = a.v
        | GROUP BY 1, 2),
        |ne AS (SELECT w.v, w.u, w.common, w.aa_micro FROM w
        | LEFT JOIN c ON c.d1 = w.v AND c.d2 = w.u WHERE c.d1 IS NULL)
        |SELECT v AS part_a, u AS part_b, common, aa_micro
        |FROM ne ORDER BY aa_micro DESC, part_a, part_b
        |LIMIT 20""".stripMargin,
    // q422: the real distinct-shingle count, one exp per grid row
    // micro-rounded, the k-th power as an exact integer fold.
    "q422_bloom_planner" ->
      s"""WITH $shinglesCte,
        |n AS (SELECT CAST(count(DISTINCT s1) AS BIGINT) AS n_items
        | FROM (SELECT unnest(sh) AS s1 FROM t)),
        |g AS (SELECT CAST(m.m_over_n AS BIGINT) AS m_over_n,
        |  CAST(k.k AS BIGINT) AS k
        | FROM (SELECT unnest([4, 8, 12, 16]) AS m_over_n) m,
        |  (SELECT unnest(range(1, 13)) AS k) k),
        |g2 AS (SELECT m_over_n, k, n_items,
        |  CAST(n_items * m_over_n AS BIGINT) AS m_bits,
        |  CAST(round((1 - exp(-CAST(k AS DOUBLE) / m_over_n)) * 1e6)
        |   AS BIGINT) AS term_micro
        | FROM g, n)
        |SELECT m_over_n, k, n_items, m_bits, term_micro,
        | CAST(list_reduce(list_transform(range(k), x -> term_micro),
        |   (a, b) -> a * b // 1000000) AS BIGINT) AS fp_micro,
        | CAST((m_over_n * 693147 + 500000) // 1000000 AS BIGINT)
        |  AS k_opt,
        | k = (m_over_n * 693147 + 500000) // 1000000 AS is_k_opt
        |FROM g2""".stripMargin,
    // q423: stream ≡ batch — the q411 oracle verbatim.
    "q423_stream_unigram_apply" -> unigramApplyOracle,
    // q424: the exact-binary-fraction Holt recursion replayed as a
    // recursive CTE (one deterministic path over the bounded hourly
    // series).
    "q424_holt_forecast" ->
      """WITH RECURSIVE hc AS (SELECT epoch_us(ts) // 3600000000 AS h,
        |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |ord AS (SELECT h, n, row_number() OVER (ORDER BY h) AS i
        | FROM hc),
        |mx AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |  CAST(max(h) AS BIGINT) AS h_last FROM ord),
        |rec AS (
        | SELECT CAST(1 AS BIGINT) AS i,
        |  (SELECT n FROM ord WHERE i = 1) * 1000 AS l,
        |  ((SELECT n FROM ord WHERE i = 2)
        |    - (SELECT n FROM ord WHERE i = 1)) * 1000 AS b
        | UNION ALL
        | SELECT rec.i + 1,
        |  (o.n * 1000 + rec.l + rec.b) // 2,
        |  ((o.n * 1000 + rec.l + rec.b) // 2 - rec.l) // 4
        |    + (3 * rec.b) // 4
        | FROM rec JOIN ord o ON o.i = rec.i + 1),
        |fin AS (SELECT l, b FROM rec, mx WHERE rec.i = mx.m)
        |SELECT CAST(k.k AS BIGINT) AS k,
        | CAST(h_last + k.k AS BIGINT) AS h_pred, m AS n_hours,
        | CAST(l AS BIGINT) AS level_milli,
        | CAST(b AS BIGINT) AS trend_milli,
        | CAST(l + k.k * b AS BIGINT) AS forecast_milli
        |FROM fin, mx, (SELECT unnest(range(1, 4)) AS k) k""".stripMargin,
    "q425_chunked_ttr" ->
      """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |d AS (SELECT doc_id, tk, CAST(len(tk) // 50 AS BIGINT)
        |  AS n_chunks FROM tt),
        |f AS (SELECT doc_id, n_chunks, unnest(range(n_chunks)) AS c,
        |  tk FROM d WHERE n_chunks >= 1),
        |t2 AS (SELECT doc_id, n_chunks,
        |  CAST(len(list_distinct(
        |    list_slice(tk, c * 50 + 1, c * 50 + 50))) AS BIGINT)
        |   * 1000000 // 50 AS ttr
        | FROM f)
        |SELECT doc_id, n_chunks,
        | CAST(sum(ttr) // n_chunks AS BIGINT) AS mattr_ppm
        |FROM t2 GROUP BY 1, 2""".stripMargin,
    // q426: the q394 assignment chain reduced to per-cell loads.
    "q426_ivf_balance" ->
      """WITH q AS (SELECT vec_id, label, list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        | FROM embeddings),
        |m AS (SELECT vec_id, label, v,
        |  CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        | FROM q),
        |cu AS (SELECT label, unnest(v) AS x,
        |  generate_subscripts(v, 1) - 1 AS pos FROM q),
        |cs AS (SELECT label, pos, sum(x) AS sx, count(*) AS nv
        | FROM cu GROUP BY 1, 2),
        |cl AS (SELECT label,
        |  list(CAST(trunc(CAST(sx AS DOUBLE) / nv) AS BIGINT)
        |    ORDER BY pos) AS cv
        | FROM cs GROUP BY label),
        |cn AS (SELECT label, cv,
        |  CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS cn2
        | FROM cl),
        |ac AS (SELECT m.vec_id, cn.label,
        |  CAST(CAST(list_sum(list_transform(range(64),
        |      i -> m.v[i+1] * cn.cv[i+1])) AS BIGINT) AS DOUBLE)
        |   / (sqrt(CAST(m.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
        |   AS ccos
        | FROM m, cn),
        |asg AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, label AS cell, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY ccos DESC, label) AS rk
        |  FROM ac) t WHERE rk = 1),
        |cells AS (SELECT CAST(cell AS BIGINT) AS cell,
        |  CAST(count(*) AS BIGINT) AS n_vecs FROM asg GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total,
        |  CAST(count(*) AS BIGINT) AS n_cells FROM cells)
        |SELECT cell, n_vecs,
        | CAST(n_vecs * 1000000 // n_total AS BIGINT) AS share_ppm,
        | CAST(n_vecs * n_cells * 1000000 // n_total AS BIGINT)
        |  AS load_factor_ppm
        |FROM cells, tot""".stripMargin,
    // q427: total token mass; HUGEINT product for the e*n bound; one
    // exp per depth micro-rounded.
    "q427_cms_planner" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents)),
        |g AS (SELECT CAST(w.w AS BIGINT) AS w, CAST(d.d AS BIGINT) AS d
        | FROM (SELECT unnest([256, 1024, 4096, 16384]) AS w) w,
        |  (SELECT unnest(range(1, 7)) AS d) d)
        |SELECT w, d, n_tokens, CAST(w * d * 8 AS BIGINT) AS mem_bytes,
        | CAST(CAST(n_tokens AS HUGEINT) * 2718282 // w // 1000000
        |  AS BIGINT) AS err_bound_tokens,
        | CAST(round(exp(-CAST(d AS DOUBLE)) * 1e6) AS BIGINT)
        |  AS fail_micro
        |FROM g, n""".stripMargin,
    // q428: ch0 formula stats; sqrt is IEEE-exact so the milli chain
    // replays bit-for-bit.
    "q428_wav_gain" ->
      """WITH d AS (SELECT doc_id, doc_id % 400 + 50 AS frames
        |  FROM documents),
        |fr AS (SELECT doc_id, unnest(range(frames)) AS f FROM d),
        |sm AS (SELECT doc_id, f,
        |  (doc_id * 31 + f * 17) % 65536 - 32768 AS v FROM fr),
        |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq_ch0,
        |  CAST(max(abs(v)) AS BIGINT) AS peak_abs
        | FROM sm GROUP BY 1)
        |SELECT doc_id, n_frames, sum_sq_ch0, peak_abs,
        | CAST(round(sqrt(CAST(sum_sq_ch0 AS DOUBLE) / n_frames)
        |   * 1000) AS BIGINT) AS rms_milli,
        | CAST(round(8000 * 1000
        |   / sqrt(CAST(sum_sq_ch0 AS DOUBLE) / n_frames)) AS BIGINT)
        |  AS gain_milli,
        | peak_abs * CAST(round(8000 * 1000
        |   / sqrt(CAST(sum_sq_ch0 AS DOUBLE) / n_frames)) AS BIGINT)
        |  > 32767000 AS would_clip
        |FROM st""".stripMargin,
    // q429: the Y4M pixel formula replayed over the full
    // (frame, plane, raster) grid — agreement means the parsed
    // container reproduced every byte (Y4M is lossless).
    "q429_y4m_decode" -> y4mDecodeOracle,
    // q430: kept-frame luma sums at FRAME grain (stride 3).
    "q430_frame_sample" ->
      """WITH d AS (SELECT doc_id, 4 + (doc_id % 3) * 2 AS w,
        |  4 + (doc_id % 2) * 2 AS h, doc_id % 12 + 4 AS frames
        | FROM documents),
        |fr AS (SELECT doc_id, w, h, unnest(range(frames)) AS f
        | FROM d),
        |pi AS (SELECT doc_id, f, unnest(range(w * h)) AS i FROM fr
        | WHERE f % 3 = 0),
        |px AS (SELECT doc_id, f,
        |  (doc_id * 31 + f * 17 + i * 5) % 256 AS v FROM pi)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame,
        | CAST(sum(v) AS BIGINT) AS y_sum,
        | CAST(sum(v * v) AS BIGINT) AS y_sum_sq
        |FROM px GROUP BY 1, 2""".stripMargin,
    // q431: consecutive-frame luma SAD; both frames' pixels replay
    // straight from the formula (no lag join needed), cut flag by
    // exact integer compare at 30/px.
    "q431_video_motion" ->
      """WITH d AS (SELECT doc_id, 4 + (doc_id % 3) * 2 AS w,
        |  4 + (doc_id % 2) * 2 AS h, doc_id % 12 + 4 AS frames
        | FROM documents),
        |fr AS (SELECT doc_id, w, h, unnest(range(frames)) AS f
        | FROM d),
        |pi AS (SELECT doc_id, w, h, f, unnest(range(w * h)) AS i
        | FROM fr WHERE f >= 1),
        |df AS (SELECT doc_id, w, h, f,
        |  abs((doc_id * 31 + f * 17 + i * 5) % 256
        |    - (doc_id * 31 + (f - 1) * 17 + i * 5) % 256) AS ad
        | FROM pi)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame,
        | CAST(sum(ad) AS BIGINT) AS sad,
        | CAST(sum(ad) AS BIGINT) >= 30 * max(w) * max(h) AS is_cut
        |FROM df GROUP BY 1, 2""".stripMargin,
    // q432: stream ≡ batch — the q429 oracle verbatim.
    "q432_stream_y4m_stats" -> y4mDecodeOracle,
    // q433: twins, temporal fingerprints, banding and hamming
    // verification all replayed from the pixel formula (luma-
    // identical twins ⇒ hamming 0 by construction).
    "q433_video_neardup" -> videoNearDupOracle,
    // q434: per-cell micro-rounded ln terms on the bounded
    // contingency frame, N-scaled HUGEINT numerators, one integer
    // U chain — conditioning clamped non-negative.
    "q434_theils_u" ->
      """WITH cells AS (SELECT lang AS g,
        |  least(length(text) // 50, 11) AS b,
        |  CAST(count(*) AS BIGINT) AS n_gb
        | FROM documents GROUP BY 1, 2),
        |rg AS (SELECT g, CAST(sum(n_gb) AS BIGINT) AS r_g
        | FROM cells GROUP BY 1),
        |cb AS (SELECT b, CAST(sum(n_gb) AS BIGINT) AS c_b
        | FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_gb) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT g) AS BIGINT) AS k_langs,
        |  CAST(count(DISTINCT b) AS BIGINT) AS n_bands FROM cells),
        |hx AS (SELECT sum(CAST(r_g AS HUGEINT)
        |   * CAST(round(ln(CAST(n_docs AS DOUBLE) / r_g) * 1e6)
        |      AS BIGINT)) AS hx_num
        | FROM rg, tot),
        |hxy AS (SELECT sum(CAST(n_gb AS HUGEINT)
        |   * CAST(round(ln(CAST(c_b AS DOUBLE) / n_gb) * 1e6)
        |      AS BIGINT)) AS hxy_num
        | FROM cells JOIN cb USING (b))
        |SELECT n_docs, k_langs, n_bands,
        | CAST(hx_num // n_docs AS BIGINT) AS hx_micro,
        | CAST(hxy_num // n_docs AS BIGINT) AS hxy_micro,
        | CAST(greatest(hx_num - hxy_num, 0) * 1000000
        |  // nullif(hx_num, 0) AS BIGINT) AS u_ppm
        |FROM tot, hx, hxy""".stripMargin,
    // q435: stream ≡ batch — the q433 oracle verbatim.
    "q435_stream_video_fp" -> videoNearDupOracle,
    // q436: half-unit midranks over bounded bins, the long-division
    // identity for R²/n, ppm tie correction — every division on
    // non-negative HUGEINT operands, identical truncation chains.
    "q436_kruskal_wallis" -> kruskalWallisOracle,
    // q437: method-of-moments NB fit; overdispersion by exact
    // cross-multiplied compare, p/r as documented division chains.
    "q437_negbin_fit" ->
      """WITH x AS (SELECT lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS x
        | FROM documents),
        |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(x) AS BIGINT) AS s1,
        |  sum(CAST(x AS HUGEINT) * x) AS s2
        | FROM x GROUP BY 1 HAVING count(*) >= 2),
        |v AS (SELECT lang, n_docs, s1,
        |  CAST(n_docs AS HUGEINT) * s2
        |   - CAST(s1 AS HUGEINT) * s1 AS vnum
        | FROM a),
        |f AS (SELECT lang, n_docs, s1, vnum,
        |  CAST(s1 AS HUGEINT) * 1000 // n_docs AS mean_milli,
        |  vnum * 1000 // (CAST(n_docs AS HUGEINT) * (n_docs - 1))
        |   AS var_milli,
        |  vnum > CAST(s1 AS HUGEINT) * (n_docs - 1) AS overdispersed
        | FROM v)
        |SELECT lang, n_docs, CAST(mean_milli AS BIGINT) AS mean_milli,
        | CAST(var_milli AS BIGINT) AS var_milli, overdispersed,
        | CAST(CAST(s1 AS HUGEINT) * (n_docs - 1) * 1000000
        |  // nullif(vnum, 0) AS BIGINT) AS p_micro,
        | CASE WHEN overdispersed THEN
        |  CAST(mean_milli
        |   * (CAST(s1 AS HUGEINT) * (n_docs - 1) * 1000
        |      // (vnum - CAST(s1 AS HUGEINT) * (n_docs - 1)))
        |   // 1000 AS BIGINT) END AS r_milli
        |FROM f""".stripMargin,
    // q438: association signs from exact covariance numerators —
    // no division anywhere; pooled moments are the sums of the
    // per-brand moments.
    "q438_simpson_audit" ->
      """WITH li AS (SELECT p.p_brand,
        |  CAST(round(l.l_discount * 100) AS BIGINT) AS x,
        |  CAST(l.l_quantity AS BIGINT) AS y
        | FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |g AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  sum(CAST(x AS HUGEINT) * y) AS sxy
        | FROM li GROUP BY 1),
        |gc AS (SELECT p_brand, n, sx, sy, sxy,
        |  CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
        |   AS cov_num FROM g),
        |p AS (SELECT CAST(sign(CAST(sum(n) AS HUGEINT) * sum(sxy)
        |   - CAST(sum(sx) AS HUGEINT) * sum(sy)) AS BIGINT)
        |  AS pooled_sign FROM g)
        |SELECT p_brand, n, CAST(cov_num AS BIGINT) AS cov_num,
        | CAST(sign(cov_num) AS BIGINT) AS brand_sign, pooled_sign,
        | CAST(sign(cov_num) AS BIGINT) * pooled_sign < 0 AS reversed
        |FROM gc, p""".stripMargin,
    // q439: exact block-maxima moments, one IEEE sqrt, then integer
    // chains on micro literals (sqrt6/pi, Euler gamma, ln 100).
    "q439_gumbel_tail" -> gumbelTailOracle,

    // q440: pair signs over the bounded hour grid, tie-corrected
    // HUGEINT variance, one IEEE sqrt, continuity-corrected z.
    "q440_mann_kendall" -> mannKendallOracle,
    // q441: exact variance moments, the z-sum-square micro² literal,
    // ceiling division for the per-arm n.
    "q441_power_planner" ->
      """WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT)
        |   AS n_obs,
        |  CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
        |   AS s1,
        |  sum(CAST(CAST(round(value * 1000) AS BIGINT) AS HUGEINT)
        |   * CAST(round(value * 1000) AS BIGINT)) AS s2
        | FROM events GROUP BY 1 HAVING count(*) >= 2),
        |v AS (SELECT event_type, n_obs,
        |  (CAST(n_obs AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
        |   // (CAST(n_obs AS HUGEINT) * (n_obs - 1)) AS var_milli2,
        |  CAST(CAST(s1 AS HUGEINT) // n_obs AS BIGINT) AS mean_milli
        | FROM m),
        |g AS (SELECT CAST(unnest([10000, 20000, 50000, 100000,
        |   200000]) AS BIGINT) AS mde_ppm),
        |x AS (SELECT event_type, n_obs, mean_milli, var_milli2,
        |  mde_ppm,
        |  CAST(CAST(mean_milli AS HUGEINT) * mde_ppm // 1000000
        |   AS BIGINT) AS delta_milli
        | FROM v, g)
        |SELECT event_type, n_obs, mean_milli,
        | CAST(var_milli2 AS BIGINT) AS var_milli2, mde_ppm,
        | delta_milli,
        | CAST((CAST(2 AS HUGEINT) * var_milli2 * 7848878512225
        |   + CAST(nullif(delta_milli, 0) AS HUGEINT) * delta_milli
        |     * 1000000000000 - 1)
        |  // (CAST(nullif(delta_milli, 0) AS HUGEINT) * delta_milli
        |     * 1000000000000) AS BIGINT) AS n_per_arm
        |FROM x""".stripMargin,
    // q442: prefix-mean deviations, running min, integer alarm —
    // one deterministic path over the bounded hour grid.
    "q442_page_hinkley" -> pageHinkleyOracle,
    // q443: stream = batch - the q442 oracle verbatim.
    "q443_stream_page_hinkley" -> pageHinkleyOracle,
    // q444: N-scaled deviations, exact DECIMAL covariance sums,
    // |r| micro-rounded once per lag, integer Q chain vs the
    // chi-square milli literal.
    "q444_ljung_box" -> ljungBoxOracle,
    // q445: the q253 decomposition verbatim, then one variance-
    // numerator ratio on non-negative operands.
    "q445_seasonal_strength" ->
      """WITH hourly AS (SELECT epoch_us(ts) // 3600000000 AS h,
        |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
        |grid AS (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds),
        |filled AS (SELECT g.h, coalesce(hourly.n, 0) AS x
        | FROM grid g LEFT JOIN hourly ON hourly.h = g.h),
        |tr AS (SELECT h, x,
        |  sum(x) OVER (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12
        |   FOLLOWING) AS s25,
        |  count(x) OVER (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12
        |   FOLLOWING) AS c25
        | FROM filled),
        |fw AS (SELECT h, x, (s25 * 1000) // 25 AS trend_milli,
        |  x * 1000 - (s25 * 1000) // 25 AS detr_milli,
        |  h % 24 AS hod
        | FROM tr WHERE c25 = 25),
        |se AS (SELECT hod,
        |  sum(detr_milli) // count(*) AS seasonal_milli
        | FROM fw GROUP BY 1),
        |sj AS (SELECT fw.h, fw.detr_milli,
        |  fw.detr_milli - se.seasonal_milli AS resid_milli
        | FROM fw JOIN se USING (hod)),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_hours,
        |  CAST(sum(resid_milli) AS BIGINT) AS sr,
        |  sum(CAST(resid_milli AS HUGEINT) * resid_milli) AS srr,
        |  CAST(sum(detr_milli) AS BIGINT) AS sd,
        |  sum(CAST(detr_milli AS HUGEINT) * detr_milli) AS sdd
        | FROM sj),
        |f AS (SELECT n_hours,
        |  CAST(n_hours AS HUGEINT) * srr - CAST(sr AS HUGEINT) * sr
        |   AS vr_num,
        |  CAST(n_hours AS HUGEINT) * sdd - CAST(sd AS HUGEINT) * sd
        |   AS vd_num
        | FROM ag)
        |SELECT n_hours, CAST(vr_num AS BIGINT) AS vr_num,
        | CAST(vd_num AS BIGINT) AS vd_num,
        | CAST(greatest(1000000 - vr_num * 1000000
        |  // nullif(vd_num, 0), 0) AS BIGINT) AS fs_ppm
        |FROM f""".stripMargin,
    // q446: the exact conformal rank ((9(n+1)+9)//10-th smallest
    // residual), deterministic (residual, doc_id) ties, integer
    // milli throughout; n_cal < 9 languages emit no row.
    "q446_conformal_interval" ->
      """WITH tr AS (SELECT lang, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) * 1000 AS ym
        | FROM documents),
        |mdl AS (SELECT lang,
        |  CAST(sum(ym) // count(*) AS BIGINT) AS yhat_milli
        | FROM tr WHERE doc_id % 4 = 0 GROUP BY 1),
        |cal AS (SELECT t.lang, t.doc_id,
        |  abs(t.ym - m.yhat_milli) AS r
        | FROM tr t JOIN mdl m USING (lang) WHERE t.doc_id % 4 = 2),
        |rk AS (SELECT lang, r,
        |  row_number() OVER (PARTITION BY lang ORDER BY r, doc_id)
        |   AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n_cal FROM cal),
        |qh AS (SELECT lang, CAST(n_cal AS BIGINT) AS n_cal,
        |  r AS q_hat_milli
        | FROM rk WHERE rn = (9 * (n_cal + 1) + 9) // 10),
        |tst AS (SELECT t.lang,
        |  CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN abs(t.ym - m.yhat_milli)
        |     <= q.q_hat_milli THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_covered
        | FROM tr t JOIN mdl m USING (lang) JOIN qh q USING (lang)
        | WHERE t.doc_id % 2 = 1 GROUP BY 1)
        |SELECT q.lang, m.yhat_milli, q.n_cal, q.q_hat_milli,
        | tst.n_test, tst.n_covered,
        | CAST(n_covered * 1000000 // n_test AS BIGINT)
        |  AS coverage_ppm
        |FROM qh q JOIN mdl m USING (lang) JOIN tst USING (lang)"""
        .stripMargin,
    // q447: stream = batch - the q439 oracle verbatim.
    "q447_stream_gumbel_tail" -> gumbelTailOracle,
    // q448: pixels -> SADs -> cut flags -> cumulative shot id ->
    // per-shot group, all replayed from the formula.
    "q448_video_shots" ->
      """WITH d AS (SELECT doc_id, 4 + (doc_id % 3) * 2 AS w,
        |  4 + (doc_id % 2) * 2 AS h, doc_id % 12 + 4 AS frames
        | FROM documents),
        |fr AS (SELECT doc_id, w, h, unnest(range(frames)) AS f
        | FROM d),
        |pi AS (SELECT doc_id, w, h, f, unnest(range(w * h)) AS i
        | FROM fr),
        |px AS (SELECT doc_id, w, h, f,
        |  (doc_id * 31 + f * 17 + i * 5) % 256 AS v,
        |  abs((doc_id * 31 + f * 17 + i * 5) % 256
        |    - (doc_id * 31 + (f - 1) * 17 + i * 5) % 256) AS ad
        | FROM pi),
        |fs AS (SELECT doc_id, f, max(w * h) AS npx,
        |  CAST(sum(v) AS BIGINT) AS ysum,
        |  CAST(sum(v * v) AS BIGINT) AS ysq,
        |  CAST(sum(ad) AS BIGINT) AS sad
        | FROM px GROUP BY 1, 2),
        |ct AS (SELECT doc_id, f, ysum, ysq,
        |  CASE WHEN f >= 1 AND sad >= 30 * npx THEN 1 ELSE 0 END
        |   AS cut FROM fs),
        |sh AS (SELECT doc_id, f, ysum, ysq,
        |  sum(cut) OVER (PARTITION BY doc_id ORDER BY f) AS shot
        | FROM ct)
        |SELECT doc_id, CAST(shot AS BIGINT) AS shot,
        | CAST(min(f) AS BIGINT) AS first_frame,
        | CAST(count(*) AS BIGINT) AS n_frames,
        | CAST(sum(ysum) AS BIGINT) AS y_sum,
        | CAST(sum(ysq) AS BIGINT) AS y_sum_sq
        |FROM sh GROUP BY 1, 2""".stripMargin,
    // q449: supplier-grain cents, one micro-rounded ln per supplier
    // (within) and per nation (between), integer divisions with
    // matching toward-zero truncation on both engines.
    "q449_theil_decomposition" ->
      """WITH s0 AS (SELECT l_suppkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |   AS BIGINT) AS x
        | FROM lineitem GROUP BY 1),
        |sup AS (SELECT s0.l_suppkey, s0.x, n.n_name
        | FROM s0 JOIN supplier s ON s.s_suppkey = s0.l_suppkey
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey
        | WHERE s0.x > 0),
        |grp AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_g,
        |  CAST(sum(x) AS BIGINT) AS s_g FROM sup GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_all,
        |  CAST(sum(s_g) AS BIGINT) AS s_all FROM grp),
        |wi AS (SELECT sup.n_name,
        |  sum(CAST(x AS HUGEINT) * CAST(round(ln(
        |    CAST(x * n_g AS DOUBLE) / s_g) * 1e6) AS BIGINT)) AS c,
        |  max(s_g) AS sg
        | FROM sup JOIN grp USING (n_name) GROUP BY 1)
        |SELECT g.n_name, g.n_g, g.s_g,
        | CAST(CAST(g.s_g AS HUGEINT) * 1000000 // t.s_all AS BIGINT)
        |  AS share_ppm,
        | CAST(wi.c // wi.sg AS BIGINT) AS t_within_micro,
        | CAST(CAST(g.s_g AS HUGEINT) * CAST(round(ln(
        |   (CAST(g.s_g AS DOUBLE) * t.n_all)
        |    / (CAST(t.s_all AS DOUBLE) * g.n_g)) * 1e6) AS BIGINT)
        |  // t.s_all AS BIGINT) AS between_contrib_micro
        |FROM grp g JOIN wi ON wi.n_name = g.n_name
        | CROSS JOIN tot t""".stripMargin,
    // q450: the q94 unrolled-CTE PageRank replay on the co-purchase
    // edge set (distinct pairs, >= 2 shared orders).
    "q450_copurchase_pagerank" -> copurchasePageRankOracle,
    // q451: the bounded (type, hour) grid, one micro-rounded ln per
    // grid row, HUGEINT count-weighted sums, BIGINT out.
    "q451_theil_hours" -> theilHoursOracle,
    // q452: stream = batch — the q451 oracle verbatim.
    "q452_stream_theil" -> theilHoursOracle,
    // q453: the modulo salt is oracle-replayable; the staged layout
    // never changes results (the q273 contract), so the oracle reads
    // the raw table. Also the q471 gate verbatim (the streamed
    // (salt, hour) grid must land exactly the batch one).
    "q453_salt_write_audit" -> saltAuditOracle,
    // q454: adjacent-token co-occurrence edges (count >= 3),
    // symmetrized, then the q94 unrolled PageRank; top-20 by
    // (score desc, word).
    "q454_textrank_keywords" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT tk[i] AS w1, tk[i + 1] AS w2
        | FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM t)),
        |e AS (SELECT least(w1, w2) AS wa, greatest(w1, w2) AS wb
        | FROM bg WHERE w1 <> w2
        | GROUP BY 1, 2 HAVING count(*) >= 3),
        |adj AS (SELECT wa AS v, wb AS u FROM e
        | UNION SELECT wb, wa FROM e),
        |deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY u),
        |s0 AS (SELECT u AS v, CAST(1000000 AS BIGINT) AS s FROM deg),
        |${(1 to 5).map { i =>
          val prev = if (i == 1) "s0" else s"it${i - 1}"
          s"""it$i AS (SELECT a.v AS v,
             |  CAST(150000 + (850 * sum(p.s // d.deg)) // 1000
             |   AS BIGINT) AS s
             | FROM adj a JOIN $prev p ON a.u = p.v
             |  JOIN deg d ON a.u = d.u
             | GROUP BY a.v)""".stripMargin
        }.mkString(",\n")}
        |SELECT v AS word, s AS score_scaled FROM it5
        |ORDER BY s DESC, v LIMIT 20""".stripMargin,
    // q455: the seeded-teleport replay — base mass on the seed brand
    // only, left join so unreached vertices keep their zero row.
    "q455_personalized_pagerank" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        | FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT pa AS v, pb AS u FROM e
        | UNION SELECT pb, pa FROM e),
        |deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY u),
        |sb AS (SELECT u AS v, CASE WHEN u IN (
        |   SELECT p_partkey FROM part WHERE p_brand = 'Brand#4')
        |  THEN 150000 ELSE 0 END AS b FROM deg),
        |s0 AS (SELECT v, CAST(CASE WHEN b > 0 THEN 1000000 ELSE 0 END
        |  AS BIGINT) AS s FROM sb),
        |${(1 to 5).map { i =>
          val prev = if (i == 1) "s0" else s"it${i - 1}"
          s"""it$i AS (SELECT sb.v AS v,
             |  CAST(sb.b + coalesce(c.m, 0) AS BIGINT) AS s
             | FROM sb LEFT JOIN (SELECT a.v,
             |    (850 * sum(p.s // d.deg)) // 1000 AS m
             |   FROM adj a JOIN $prev p ON a.u = p.v
             |    JOIN deg d ON a.u = d.u
             |   GROUP BY a.v) c ON c.v = sb.v)""".stripMargin
        }.mkString(",\n")}
        |SELECT v AS part, s AS score_scaled FROM it5""".stripMargin,
    // q456: per-lag pair moments on HUGEINT, one fixed IEEE r per
    // bounded lag row, NULL on degenerate variance.
    "q456_ccf_leadlag" ->
      """WITH vx AS (SELECT epoch_us(ts) // 3600000000 AS h,
        |  CAST(count(*) AS BIGINT) AS x FROM events
        | WHERE event_type = 'view' GROUP BY 1),
        |py AS (SELECT epoch_us(ts) // 3600000000 AS h2,
        |  CAST(count(*) AS BIGINT) AS y FROM events
        | WHERE event_type = 'purchase' GROUP BY 1),
        |l AS (SELECT CAST(unnest(range(-6, 7)) AS BIGINT) AS lag),
        |p AS (SELECT l.lag, vx.x, py.y
        | FROM vx CROSS JOIN l JOIN py ON py.h2 = vx.h + l.lag),
        |a AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  sum(CAST(x AS HUGEINT) * x) AS sxx,
        |  sum(CAST(y AS HUGEINT) * y) AS syy,
        |  sum(CAST(x AS HUGEINT) * y) AS sxy FROM p GROUP BY 1),
        |v AS (SELECT *, CAST(n_pairs AS HUGEINT) * sxx
        |   - CAST(sx AS HUGEINT) * sx AS vxn,
        |  CAST(n_pairs AS HUGEINT) * syy
        |   - CAST(sy AS HUGEINT) * sy AS vyn FROM a)
        |SELECT lag, n_pairs,
        | CASE WHEN vxn > 0 AND vyn > 0 THEN
        |  CAST(round(CAST(CAST(n_pairs AS HUGEINT) * sxy
        |     - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |   / sqrt(CAST(vxn AS DOUBLE) * CAST(vyn AS DOUBLE))
        |   * 1e6) AS BIGINT) END AS r_micro
        |FROM v""".stripMargin,
    // q457: exact group moments, the one-IEEE pooled-SD chain, g
    // from the ROUNDED d (both engines replay the same two-step).
    "q457_cohens_d" ->
      """WITH sc AS (SELECT
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        | FROM documents),
        |g1 AS (SELECT CAST(count(*) AS BIGINT) AS n1,
        |  CAST(sum(x) AS BIGINT) AS s1a,
        |  sum(CAST(x AS HUGEINT) * x) AS s2a FROM sc WHERE pos = 1),
        |g2 AS (SELECT CAST(count(*) AS BIGINT) AS n2,
        |  CAST(sum(x) AS BIGINT) AS s1b,
        |  sum(CAST(x AS HUGEINT) * x) AS s2b FROM sc WHERE pos = 0),
        |d AS (SELECT n1, n2,
        |  CAST(CAST(s1a AS HUGEINT) * 1000 // n1 AS BIGINT)
        |   AS mean1_milli,
        |  CAST(CAST(s1b AS HUGEINT) * 1000 // n2 AS BIGINT)
        |   AS mean2_milli,
        |  CAST(round((CAST(s1a AS DOUBLE) / n1
        |     - CAST(s1b AS DOUBLE) / n2)
        |   / sqrt((CAST(s2a AS DOUBLE)
        |       - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / n1
        |     + CAST(s2b AS DOUBLE)
        |       - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / n2)
        |     / (n1 + n2 - 2)) * 1e6) AS BIGINT) AS d_micro
        | FROM g1, g2)
        |SELECT n1, n2, mean1_milli, mean2_milli, d_micro,
        | CAST(round(CAST(d_micro AS DOUBLE)
        |  * (1.0 - 3.0 / (4.0 * (n1 + n2 - 2) - 1.0))) AS BIGINT)
        |  AS g_micro
        |FROM d""".stripMargin,
    // q458: exact discordant counts, clamped continuity correction,
    // squares on HUGEINT, the chi-square-1 milli literal.
    "q458_mcnemar" -> mcnemarOracle,
    // q459: per-scanline gray checksum replayed from the pixel
    // formula — row-grain exactness of the BMP round trip.
    "q459_bmp_decode" ->
      """WITH d AS (SELECT doc_id, doc_id % 13 + 4 AS w,
        |  doc_id % 7 + 3 AS h FROM documents),
        |xs AS (SELECT unnest(range(16)) AS x),
        |ys AS (SELECT unnest(range(9)) AS y),
        |px AS (SELECT doc_id, w, y, x,
        |  (((doc_id + 3*x + 5*y) % 256)
        |   + ((2*doc_id + 7*x + 11*y) % 256)
        |   + ((3*doc_id + 13*x + 17*y) % 256)) // 3 AS gray
        | FROM d, xs, ys WHERE x < w AND y < h)
        |SELECT doc_id, CAST(y AS BIGINT) AS y,
        | CAST(w AS BIGINT) AS width,
        | CAST(sum(gray) AS BIGINT) AS row_gray_sum
        |FROM px GROUP BY 1, 2, 3""".stripMargin,
    // q460: the q409 sample formula on channel 0, clip flags, and
    // run lengths via island detection over the per-doc frame grid.
    "q460_wav_clipping" ->
      """WITH d AS (SELECT doc_id, doc_id % 400 + 50 AS frames
        |  FROM documents),
        |sm AS (SELECT doc_id, frames, f,
        |  (doc_id * 31 + f * 17) % 65536 - 32768 AS v
        | FROM (SELECT doc_id, frames, unnest(range(frames)) AS f
        |   FROM d)),
        |cl AS (SELECT doc_id, frames, f,
        |  CASE WHEN abs(v) >= 32700 THEN 1 ELSE 0 END AS c FROM sm),
        |runs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS run
        | FROM (SELECT doc_id, f - row_number() OVER (
        |    PARTITION BY doc_id ORDER BY f) AS grp
        |   FROM cl WHERE c = 1) t GROUP BY doc_id, grp),
        |mx AS (SELECT doc_id, CAST(max(run) AS BIGINT) AS max_run
        | FROM runs GROUP BY 1),
        |agg AS (SELECT doc_id, CAST(max(frames) AS BIGINT) AS n_frames,
        |  CAST(sum(c) AS BIGINT) AS n_clipped FROM cl GROUP BY 1)
        |SELECT agg.doc_id, n_frames, n_clipped,
        | coalesce(mx.max_run, 0) AS max_clip_run,
        | CAST(n_clipped * 1000000 // n_frames AS BIGINT)
        |  AS clipped_ppm
        |FROM agg LEFT JOIN mx USING (doc_id)""".stripMargin,
    // q461: SOF dimensions/components replay from the staging
    // formula; the marker-walk validity arrives as a boolean the
    // oracle asserts TRUE (the q392 pattern).
    "q461_jpeg_markers" ->
      """SELECT doc_id,
        | CAST(doc_id % 13 + 4 AS BIGINT) AS sof_width,
        | CAST(doc_id % 7 + 3 AS BIGINT) AS sof_height,
        | CAST(3 AS BIGINT) AS n_components,
        | TRUE AS structure_valid
        |FROM documents""".stripMargin,
    // q462: N-scaled deviations, the bounded cumulative walk per
    // segment, HUGEINT dev-squares, one IEEE R/S and one IEEE H per
    // 3-row segment frame.
    "q462_hurst_rs" ->
      """WITH hourly AS (SELECT epoch_us(ts) // 3600000000 AS h,
        |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |m AS (SELECT CAST(min(h) + (max(h) - min(h) + 1) // 2
        |  AS BIGINT) AS mid FROM hourly),
        |seg AS (SELECT h, x, CAST(0 AS BIGINT) AS seg FROM hourly
        | UNION ALL
        | SELECT h, x, CASE WHEN h < mid THEN CAST(1 AS BIGINT)
        |  ELSE CAST(2 AS BIGINT) END FROM hourly, m),
        |st AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS s1 FROM seg GROUP BY 1),
        |dev AS (SELECT seg.seg, h, n, n * x - s1 AS dev
        | FROM seg JOIN st USING (seg)),
        |walk AS (SELECT seg, h, dev, sum(dev) OVER (
        |   PARTITION BY seg ORDER BY h ROWS BETWEEN UNBOUNDED
        |   PRECEDING AND CURRENT ROW) AS cum, n FROM dev),
        |agg AS (SELECT seg, CAST(max(n) AS BIGINT) AS n_hours,
        |  CAST(greatest(max(cum), 0) - least(min(cum), 0) AS BIGINT)
        |   AS r_scaled,
        |  sum(CAST(dev AS HUGEINT) * dev) AS sdd FROM walk GROUP BY 1),
        |f AS (SELECT seg, n_hours, r_scaled,
        |  CASE WHEN sdd > 0 THEN
        |   CAST(round(CAST(r_scaled AS DOUBLE)
        |    / sqrt(CAST(sdd AS DOUBLE) / n_hours) * 1e6) AS BIGINT)
        |  END AS rs_micro FROM agg)
        |SELECT seg, n_hours, r_scaled, rs_micro,
        | CASE WHEN rs_micro > 0 THEN
        |  CAST(round(ln(CAST(rs_micro AS DOUBLE) / 1e6)
        |   / ln(CAST(n_hours AS DOUBLE) / 2.0) * 1e3) AS BIGINT)
        | END AS h_milli
        |FROM f""".stripMargin,
    // q463: the q457 moment CTEs; the standard-error pair enters one
    // IEEE tree for t and one for the Welch-Satterthwaite df.
    "q463_welch_t" -> welchTOracle,
    // q464: the shared term A = sum of exact (sum x)^2 // n per
    // group; SSB/SSW from A; one IEEE F.
    "q464_anova_f" -> anovaFOracle,
    // q465: chi-square by the cross-multiplied identity, one
    // micro-rounded IEEE division per bounded cell, integer-summed;
    // one final sqrt for V.
    "q465_cramers_v" ->
      """WITH cells AS (SELECT lang AS g,
        |  least(length(text) // 50, 11) AS b,
        |  CAST(count(*) AS BIGINT) AS o FROM documents GROUP BY 1, 2),
        |rg AS (SELECT g, CAST(sum(o) AS BIGINT) AS r
        | FROM cells GROUP BY 1),
        |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS c
        | FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |  CAST(count(DISTINCT g) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT b) AS BIGINT) AS n_cols FROM cells),
        |t AS (SELECT n, n_rows, n_cols,
        |  CAST(round(CAST(CAST(n AS HUGEINT) * o
        |     - CAST(r AS HUGEINT) * c AS DOUBLE)
        |   * CAST(CAST(n AS HUGEINT) * o
        |     - CAST(r AS HUGEINT) * c AS DOUBLE)
        |   / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
        |   * 1e6) AS BIGINT) AS t
        | FROM cells JOIN rg USING (g) JOIN cb USING (b)
        |  CROSS JOIN tot),
        |x AS (SELECT n, n_rows, n_cols,
        |  CAST(sum(t) AS BIGINT) AS chi2_micro
        | FROM t GROUP BY 1, 2, 3)
        |SELECT n, n_rows, n_cols, chi2_micro,
        | CAST(round(sqrt(CAST(chi2_micro AS DOUBLE) / 1e6
        |  / (CAST(n AS DOUBLE) * (least(n_rows, n_cols) - 1))) * 1e3)
        |  AS BIGINT) AS v_milli
        |FROM x""".stripMargin,
    // q466: the q175 decile frame, then one exact integer weighted
    // gap sum — no float anywhere.
    "q466_ece" ->
      """WITH b AS (SELECT lang, string_split(text, ' ') AS toks
        |  FROM documents),
        |sc AS (SELECT lang,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and')))
        |   AS BIGINT) AS s_en,
        |  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und')))
        |   AS BIGINT) AS s_de,
        |  CAST(len(list_filter(toks, x -> x IN ('le','la','les','et')))
        |   AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(toks, x -> x IN ('el','los','las','y')))
        |   AS BIGINT) AS s_es
        | FROM b),
        |p AS (SELECT s_en * 1000000 // (s_en + s_de + s_fr + s_es + 1)
        |   AS p_ppm,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM sc),
        |bins AS (SELECT least(p_ppm // 100000, 9) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(pos) * 1000000 // count(*)
        |    - sum(p_ppm) // count(*) AS BIGINT) AS gap_ppm
        | FROM p GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_bins,
        | CAST(sum(n) AS BIGINT) AS n_total,
        | CAST(sum(CAST(n AS HUGEINT) * abs(gap_ppm)) // sum(n)
        |  AS BIGINT) AS ece_ppm
        |FROM bins""".stripMargin,
    // q467: corpus-anchored delta = 1/n_docs, one ln for the corpus
    // row, one sqrt + one exp per grid cell, HUGEINT products.
    "q467_dp_composition" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(round(ln(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT)
        |   AS ln_n_micro FROM documents),
        |grid AS (SELECT CAST(k AS BIGINT) AS k_releases,
        |  CAST(e AS BIGINT) AS eps_micro
        | FROM (SELECT unnest([1, 4, 16, 64, 256]) AS k) ks
        |  CROSS JOIN (SELECT unnest([10000, 50000, 100000, 500000])
        |   AS e) es),
        |x AS (SELECT k_releases, eps_micro, n_docs,
        |  CAST(CAST(k_releases AS HUGEINT) * eps_micro AS BIGINT)
        |   AS basic_micro,
        |  CAST(round(sqrt(2.0 * k_releases
        |    * CAST(ln_n_micro AS DOUBLE) / 1e6) * 1e3) AS BIGINT)
        |   AS rt_milli,
        |  CAST(round((exp(CAST(eps_micro AS DOUBLE) / 1e6) - 1.0)
        |    * 1e6) AS BIGINT) AS em1_micro
        | FROM grid CROSS JOIN n),
        |y AS (SELECT k_releases, eps_micro, n_docs, basic_micro,
        |  CAST(CAST(eps_micro AS HUGEINT) * rt_milli // 1000
        |   + CAST(k_releases AS HUGEINT) * eps_micro * em1_micro
        |     // 1000000 AS BIGINT) AS advanced_micro
        | FROM x)
        |SELECT k_releases, eps_micro, n_docs, basic_micro,
        | advanced_micro, advanced_micro < basic_micro AS advanced_wins
        |FROM y""".stripMargin,
    // q468: full customer rank replay (the oracle may sort; Spark's
    // twoPhaseRank must land the identical (cents, custkey) order),
    // cumulative share over the 10-row decile frame.
    "q468_lorenz_deciles" ->
      """WITH cust AS (SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |   AS BIGINT) AS cents FROM orders GROUP BY 1),
        |rk AS (SELECT cents, row_number() OVER (
        |   ORDER BY cents, o_custkey) AS rk,
        |  count(*) OVER () AS n FROM cust),
        |dec AS (SELECT (rk - 1) * 10 // n AS decile,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(cents) AS BIGINT) AS cents FROM rk GROUP BY 1),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM dec)
        |SELECT CAST(decile AS BIGINT) AS decile, n_customers, cents,
        | CAST(CAST(sum(cents) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS HUGEINT) * 1000000 // total AS BIGINT) AS cum_share_ppm
        |FROM dec, t""".stripMargin,
    // q469: all three pair masses from group sizes only — the truth
    // groups on raw text (same counts as Spark's md5 groups).
    "q469_blocking_quality" ->
      """WITH d AS (SELECT doc_id, text,
        |  substr(lower(text), 1, 16) AS blk FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS HUGEINT) * (count(*) - 1) // 2
        |   AS all_pairs FROM d),
        |c AS (SELECT coalesce(sum(CAST(m AS HUGEINT) * (m - 1)) // 2,
        |   0) AS cand_pairs
        | FROM (SELECT count(*) AS m FROM d GROUP BY blk)),
        |tr AS (SELECT coalesce(sum(CAST(m AS HUGEINT) * (m - 1)) // 2,
        |   0) AS true_pairs
        | FROM (SELECT count(*) AS m FROM d GROUP BY text)),
        |cp AS (SELECT coalesce(sum(CAST(m AS HUGEINT) * (m - 1)) // 2,
        |   0) AS captured_pairs
        | FROM (SELECT count(*) AS m FROM d GROUP BY blk, text))
        |SELECT n_docs,
        | CAST(true_pairs AS BIGINT) AS n_true_pairs,
        | CAST(cand_pairs AS BIGINT) AS n_cand_pairs,
        | CAST(captured_pairs AS BIGINT) AS n_captured_pairs,
        | CAST((all_pairs - cand_pairs) * 1000000
        |  // nullif(all_pairs, 0) AS BIGINT) AS reduction_ratio_ppm,
        | CAST(captured_pairs * 1000000 // nullif(true_pairs, 0)
        |  AS BIGINT) AS pairs_completeness_ppm
        |FROM n, c, tr, cp""".stripMargin,
    // q470: exact moments, one milli sqrt per language, integer
    // largest-remainder apportionment — allocations sum to budget.
    "q470_neyman_allocation" ->
      """WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS s1,
        |  sum(CAST(len(string_split(text, ' ')) AS HUGEINT)
        |   * len(string_split(text, ' '))) AS s2
        | FROM documents GROUP BY 1 HAVING count(*) >= 2),
        |s AS (SELECT lang, n_docs,
        |  CAST(round(sqrt(CAST(CAST(n_docs AS HUGEINT) * s2
        |     - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
        |    / (CAST(n_docs AS DOUBLE) * (n_docs - 1))) * 1e3)
        |   AS BIGINT) AS s_milli FROM g),
        |w AS (SELECT lang, n_docs, s_milli,
        |  CAST(n_docs AS HUGEINT) * s_milli AS w FROM s),
        |t AS (SELECT sum(w) AS wsum FROM w),
        |b AS (SELECT lang, n_docs, s_milli,
        |  CAST(w * 10000 // nullif(wsum, 0) AS BIGINT) AS floor_alloc,
        |  w * 10000 - (w * 10000 // nullif(wsum, 0)) * wsum AS rem
        | FROM w, t),
        |l AS (SELECT 10000 - sum(floor_alloc) AS leftover FROM b)
        |SELECT lang, n_docs, s_milli,
        | CAST(floor_alloc + CASE WHEN row_number() OVER (
        |    ORDER BY rem DESC, lang) <= leftover THEN 1 ELSE 0 END
        |  AS BIGINT) AS alloc
        |FROM b, l""".stripMargin,
    // q471: stream = batch — the q453 oracle verbatim.
    "q471_stream_salt_audit" -> saltAuditOracle,
    // q472: the unrolled 4-round WordPiece train replay — HUGEINT
    // likelihood scores internal, BIGINT report.
    "q472_wordpiece_train" ->
      s"""WITH $wordpieceTrainCtes
        |SELECT CAST(1 AS BIGINT) AS merge_round, l AS left_sym,
        |  r AS right_sym, CAST(n AS BIGINT) AS n_pair,
        |  score AS score_scaled FROM wpb1
        |UNION ALL SELECT 2, l, r, CAST(n AS BIGINT), score FROM wpb2
        |UNION ALL SELECT 3, l, r, CAST(n AS BIGINT), score FROM wpb3
        |UNION ALL SELECT 4, l, r, CAST(n AS BIGINT), score FROM wpb4"""
        .stripMargin,
    // q473: the frozen vocabulary's greedy longest-match walk over
    // the odd split, positional namespace (bare at pos 1, '##'
    // elsewhere), recursive per-word walk — the q411 oracle shape.
    "q473_wordpiece_apply" ->
      s"""WITH RECURSIVE $wordpieceTrainCtes,
        |hw AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS freq FROM (
        |   SELECT lang, unnest(string_split(text, ' ')) AS w
        |   FROM documents WHERE doc_id % 2 = 1) t
        |  WHERE len(w) >= 1 GROUP BY 1, 2),
        |hwd AS (SELECT DISTINCT w FROM hw),
        |hp AS (SELECT w, unnest(range(len(w))) + 1 AS pos FROM hwd),
        |hcand AS (SELECT hp.w, hp.pos, l.l,
        |  substr(hp.w, hp.pos, l.l) AS sub
        | FROM hp CROSS JOIN (SELECT unnest(range(1, (SELECT
        |    max(CASE WHEN piece LIKE '##%' THEN len(piece) - 2
        |      ELSE len(piece) END) FROM wpvf) + 1)) AS l) l
        | WHERE hp.pos + l.l - 1 <= len(hp.w)),
        |ga AS (SELECT c.w, c.pos,
        |  coalesce(max(CASE WHEN v.piece IS NOT NULL THEN c.l END), 1)
        |   AS bl
        | FROM hcand c LEFT JOIN wpvf v ON v.piece =
        |   CASE WHEN c.pos = 1 THEN c.sub ELSE '##' || c.sub END
        | GROUP BY 1, 2),
        |ka AS (SELECT w, 1 AS pos, 0 AS np FROM hwd
        | UNION ALL
        | SELECT k.w, k.pos + g.bl, k.np + 1
        | FROM ka k JOIN ga g ON g.w = k.w AND g.pos = k.pos),
        |npw AS (SELECT w, CAST(max(np) AS BIGINT) AS n_pieces
        | FROM ka GROUP BY 1)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_vocab,
        | CAST(sum(freq) AS BIGINT) AS n_words,
        | CAST(sum(freq * len(w)) AS BIGINT) AS n_chars,
        | CAST(sum(freq * n_pieces) AS BIGINT) AS n_pieces,
        | CAST(sum(freq * n_pieces) * 1000000 // sum(freq) AS BIGINT)
        |  AS pieces_per_word_micro,
        | CAST(sum(freq * len(w)) * 1000000
        |   // nullif(sum(freq * n_pieces), 0) AS BIGINT)
        |  AS chars_per_piece_micro
        |FROM hw JOIN npw USING (w) GROUP BY lang""".stripMargin,
    // q474: all three tokenizer families trained on the SAME even
    // split at their gated defaults (BPE 3 merges, unigram 200→50,
    // WordPiece 4 merges) and applied to the SAME odd-split holdout
    // — three replayed trainings + three walks in one statement.
    "q474_tokenizer_compare" ->
      s"""WITH RECURSIVE $unigramTrainCtes,
        |$wordpieceTrainCtes,
        |bpw0 AS MATERIALIZED (
        |  SELECT string_split(w, '') AS syms, freq FROM w0),
        |${(1 to 3).map(bpeRoundCtes).mkString(",\n")},
        |hq AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        |   SELECT unnest(string_split(text, ' ')) AS w
        |   FROM documents WHERE doc_id % 2 = 1) t
        |  WHERE len(w) >= 1 GROUP BY 1),
        |hp2 AS (SELECT w, unnest(range(len(w))) + 1 AS pos FROM hq),
        |wcand AS (SELECT hp2.w, hp2.pos, l.l,
        |  substr(hp2.w, hp2.pos, l.l) AS sub
        | FROM hp2 CROSS JOIN (SELECT unnest(range(1, (SELECT
        |    max(CASE WHEN piece LIKE '##%' THEN len(piece) - 2
        |      ELSE len(piece) END) FROM wpvf) + 1)) AS l) l
        | WHERE hp2.pos + l.l - 1 <= len(hp2.w)),
        |wga AS (SELECT c.w, c.pos,
        |  coalesce(max(CASE WHEN v.piece IS NOT NULL THEN c.l END), 1)
        |   AS bl
        | FROM wcand c LEFT JOIN wpvf v ON v.piece =
        |   CASE WHEN c.pos = 1 THEN c.sub ELSE '##' || c.sub END
        | GROUP BY 1, 2),
        |wka AS (SELECT w, 1 AS pos, 0 AS np FROM hq
        | UNION ALL SELECT k.w, k.pos + g.bl, k.np + 1
        | FROM wka k JOIN wga g ON g.w = k.w AND g.pos = k.pos),
        |wnp AS (SELECT w, CAST(max(np) AS BIGINT) AS n_pieces
        | FROM wka GROUP BY 1),
        |ucand AS (SELECT hp2.w, hp2.pos, l.l,
        |  substr(hp2.w, hp2.pos, l.l) AS sub
        | FROM hp2 CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS l) l
        | WHERE hp2.pos + l.l - 1 <= len(hp2.w)),
        |uga AS (SELECT c.w, c.pos,
        |  coalesce(max(CASE WHEN v.piece IS NOT NULL THEN c.l END), 1)
        |   AS bl
        | FROM ucand c LEFT JOIN vf v ON v.piece = c.sub GROUP BY 1, 2),
        |uka AS (SELECT w, 1 AS pos, 0 AS np FROM hq
        | UNION ALL SELECT k.w, k.pos + g.bl, k.np + 1
        | FROM uka k JOIN uga g ON g.w = k.w AND g.pos = k.pos),
        |unp AS (SELECT w, CAST(max(np) AS BIGINT) AS n_pieces
        | FROM uka GROUP BY 1),
        |bh0 AS (SELECT w, freq, string_split(w, '') AS syms FROM hq),
        |bh1 AS (SELECT w, freq, list_reduce(list_transform(syms, y -> [y]),
        |   (acc, x) -> CASE WHEN acc[len(acc)] = l AND x[1] = r
        |     THEN list_concat(acc[1:len(acc)-1], [l || r])
        |     ELSE list_concat(acc, x) END) AS syms
        |  FROM bh0 CROSS JOIN bpb1),
        |bh2 AS (SELECT w, freq, list_reduce(list_transform(syms, y -> [y]),
        |   (acc, x) -> CASE WHEN acc[len(acc)] = l AND x[1] = r
        |     THEN list_concat(acc[1:len(acc)-1], [l || r])
        |     ELSE list_concat(acc, x) END) AS syms
        |  FROM bh1 CROSS JOIN bpb2),
        |bh3 AS (SELECT w, freq, list_reduce(list_transform(syms, y -> [y]),
        |   (acc, x) -> CASE WHEN acc[len(acc)] = l AND x[1] = r
        |     THEN list_concat(acc[1:len(acc)-1], [l || r])
        |     ELSE list_concat(acc, x) END) AS syms
        |  FROM bh2 CROSS JOIN bpb3)
        |SELECT 'wordpiece' AS family,
        | CAST(sum(freq) AS BIGINT) AS n_words,
        | CAST(sum(freq * n_pieces) AS BIGINT) AS n_pieces,
        | CAST(sum(freq * n_pieces) * 1000000 // sum(freq) AS BIGINT)
        |  AS pieces_per_word_micro
        |FROM hq JOIN wnp USING (w)
        |UNION ALL
        |SELECT 'unigram', CAST(sum(freq) AS BIGINT),
        | CAST(sum(freq * n_pieces) AS BIGINT),
        | CAST(sum(freq * n_pieces) * 1000000 // sum(freq) AS BIGINT)
        |FROM hq JOIN unp USING (w)
        |UNION ALL
        |SELECT 'bpe', CAST(sum(freq) AS BIGINT),
        | CAST(sum(freq * len(syms)) AS BIGINT),
        | CAST(sum(freq * len(syms)) * 1000000 // sum(freq) AS BIGINT)
        |FROM bh3""".stripMargin,
    // q475: each battery member's oracle replayed verbatim as a
    // subquery, reduced to a p-value through the SAME shared IEEE
    // expression text the Spark plan uses (Eval.normTwoSidedSql /
    // chi2UpperSql), then the all-integer step-up rule.
    "q475_bh_fdr" -> {
      def pRow(test: String, oracle: String, pSql: String) =
        s"""SELECT '$test' AS test,
           | CAST(round(($pSql) * 1e3) AS BIGINT) AS p_milli
           |FROM ($oracle) t""".stripMargin
      val rows = Seq(
        pRow("q391_mann_whitney", mannWhitneyOracle,
          operators.Eval.normTwoSidedSql("CAST(z_micro AS DOUBLE) / 1e6")),
        pRow("q436_kruskal_wallis", kruskalWallisOracle,
          operators.Eval.chi2UpperSql("CAST(h_adj_micro AS DOUBLE) / 1e6",
            "CAST(k_groups - 1 AS DOUBLE)")),
        pRow("q440_mann_kendall", mannKendallOracle,
          operators.Eval.normTwoSidedSql("CAST(z_micro AS DOUBLE) / 1e6")),
        pRow("q444_ljung_box", ljungBoxOracle,
          operators.Eval.chi2UpperSql("CAST(q_micro AS DOUBLE) / 1e6",
            "CAST(k_lags AS DOUBLE)")),
        pRow("q458_mcnemar", mcnemarOracle,
          operators.Eval.chi2UpperSql(
            "CAST(chi2_milli AS DOUBLE) / 1e3", "1.0")),
        pRow("q463_welch_t", welchTOracle,
          operators.Eval.normTwoSidedSql("CAST(t_micro AS DOUBLE) / 1e6")),
        pRow("q464_anova_f", anovaFOracle,
          operators.Eval.chi2UpperSql(
            "greatest(CAST(k_groups - 1 AS DOUBLE) * CAST(f_micro AS DOUBLE) / 1e6, 0.0)",
            "CAST(k_groups - 1 AS DOUBLE)")))
      s"""WITH battery AS (${rows.mkString("\nUNION ALL\n")}),
        |rk AS (SELECT test, p_milli,
        |  CAST(row_number() OVER (ORDER BY p_milli, test) AS BIGINT) AS k,
        |  CAST(count(*) OVER () AS BIGINT) AS m FROM battery),
        |ks AS (SELECT coalesce(max(CASE WHEN p_milli * m <= k * 50
        |    THEN k END), 0) AS kstar FROM rk)
        |SELECT test, p_milli, k,
        | CAST(k * 50 * 1000 // m AS BIGINT) AS bh_crit_micro,
        | p_milli <= 50 AS reject_raw,
        | k <= kstar AS reject_bh
        |FROM rk CROSS JOIN ks""".stripMargin
    },
    // q476: incremental ≡ full is the gate — the q450 full-recompute
    // replay verbatim; any splice error in the delta path lands as a
    // value mismatch on the affected vertices.
    "q476_incremental_pagerank" -> copurchasePageRankOracle,
    // q477: the weighted rounds unrolled — per-edge HUGEINT (s·w) //
    // Σw shares, coalesce(Σ, 0) so an all-zero-weight source row
    // lands the bare teleport base on both engines.
    "q477_weighted_pagerank" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |freq AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS f
        |  FROM items GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
        |   AS n_orders FROM items),
        |e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        | FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |we AS (SELECT pa, pb,
        |  CAST(CAST(n_pairs AS HUGEINT) * n_orders * 1000000
        |    // (CAST(fa.f AS HUGEINT) * fb.f) AS BIGINT) AS w
        | FROM e JOIN freq fa ON fa.l_partkey = e.pa
        |  JOIN freq fb ON fb.l_partkey = e.pb
        |  CROSS JOIN tot),
        |adj AS (SELECT pa AS v, pb AS u, w FROM we
        | UNION ALL SELECT pb, pa, w FROM we),
        |wdeg AS (SELECT u, CAST(sum(w) AS BIGINT) AS sw
        |  FROM adj GROUP BY u),
        |s0 AS (SELECT u AS v, CAST(1000000 AS BIGINT) AS s FROM wdeg),
        |${(1 to 5).map { i =>
          val prev = if (i == 1) "s0" else s"it${i - 1}"
          s"""it$i AS (SELECT a.v AS v,
             |  CAST(150000 + (850 * coalesce(sum(
             |    CAST(CAST(p.s AS HUGEINT) * a.w
             |      // nullif(d.sw, 0) AS BIGINT)), 0)) // 1000
             |   AS BIGINT) AS s
             | FROM adj a JOIN $prev p ON a.u = p.v
             |  JOIN wdeg d ON a.u = d.u
             | GROUP BY a.v)""".stripMargin
        }.mkString(",\n")}
        |SELECT v AS part, s AS score_scaled FROM it5""".stripMargin,
    // q478: banding → bounded-degree graph → 3 unrolled beam rounds
    // → top-5 + recall vs the q25 brute force, all from the same
    // md5-plane constants and the (cos desc, id asc) total order.
    "q478_graph_ann_beam" -> {
      val beamRounds = (1 to 3).map { i =>
        val prev = s"bm${i - 1}"
        s"""xp$i AS (SELECT DISTINCT b.query_id, a.dst AS node
           | FROM $prev b JOIN gadj a ON b.node = a.src),
           |sx$i AS (SELECT x.query_id, x.node,
           |  ${cosSql("q.qv", "q.qn2", "c.v", "c.n2")} AS cos
           | FROM xp$i x JOIN m c ON x.node = c.vec_id
           |  JOIN qs q ON q.query_id = x.query_id),
           |un$i AS (SELECT query_id, node, max(cos) AS cos FROM (
           |   SELECT query_id, node, cos FROM $prev
           |   UNION ALL SELECT query_id, node, cos FROM sx$i) u
           |  GROUP BY 1, 2),
           |bm$i AS MATERIALIZED (SELECT query_id, node, cos
           | FROM (SELECT query_id,
           |   node, cos, row_number() OVER (PARTITION BY query_id
           |     ORDER BY cos DESC, node) AS rk FROM un$i) t
           |  WHERE rk <= 8)""".stripMargin
      }.mkString(",\n")
      s"""WITH $quantCte,
        |$embedBandCtes,
        |ce AS (SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
        | FROM bd x JOIN bd y ON x.band = y.band
        |  AND x.band_key = y.band_key AND x.vec_id < y.vec_id
        | WHERE x.vec_id >= 5 AND y.vec_id >= 5),
        |eb2 AS (SELECT id1 AS src, id2 AS dst FROM ce
        | UNION ALL SELECT id2, id1 FROM ce),
        |es AS (SELECT eb2.src, eb2.dst, $cosExpr AS cos
        | FROM eb2 JOIN m a ON eb2.src = a.vec_id
        |  JOIN m b ON eb2.dst = b.vec_id),
        |gadj AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst,
        |   row_number() OVER (PARTITION BY src
        |     ORDER BY cos DESC, dst) AS rk FROM es) t WHERE rk <= 6),
        |qs AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2 FROM m
        | WHERE vec_id < 5),
        |ent AS (SELECT vec_id, v, n2 FROM m WHERE vec_id >= 5
        | ORDER BY vec_id LIMIT 4),
        |sc0 AS (SELECT q.query_id, e.vec_id AS node,
        |  ${cosSql("q.qv", "q.qn2", "e.v", "e.n2")} AS cos
        | FROM qs q CROSS JOIN ent e),
        |bm0 AS MATERIALIZED (SELECT query_id, node, cos
        | FROM (SELECT query_id,
        |   node, cos, row_number() OVER (PARTITION BY query_id
        |     ORDER BY cos DESC, node) AS rk FROM sc0) t WHERE rk <= 8),
        |$beamRounds,
        |ak AS (SELECT query_id, CAST(rk AS BIGINT) AS rank,
        |  node AS neighbor_id, cos AS cosine FROM (SELECT query_id,
        |   node, cos, row_number() OVER (PARTITION BY query_id
        |     ORDER BY cos DESC, node) AS rk FROM bm3) t WHERE rk <= 5),
        |exa AS (SELECT query_id, neighbor_id FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |   row_number() OVER (PARTITION BY a.vec_id
        |     ORDER BY $cosExpr DESC, b.vec_id) AS rk
        |  FROM m a JOIN m b ON a.vec_id < 5 AND b.vec_id >= 5) t
        | WHERE rk <= 5),
        |rc AS (SELECT ak.query_id,
        |  CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1
        |    ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS recall_ppm
        | FROM ak LEFT JOIN exa e ON e.query_id = ak.query_id
        |  AND e.neighbor_id = ak.neighbor_id
        | GROUP BY 1)
        |SELECT ak.query_id, ak.rank, ak.neighbor_id, ak.cosine,
        | rc.recall_ppm
        |FROM ak JOIN rc ON rc.query_id = ak.query_id""".stripMargin
    },
    // q479: the 4 synchronous modularity-move rounds unrolled (the
    // q450 CTE template) — sig/kin/candidates/score/argmax per
    // round, then the canonical per-community report.
    "q479_copurchase_communities" -> {
      val moveRounds = (1 to 4).map { i =>
        val prev = s"lv${i - 1}"
        s"""sg$i AS (SELECT lab, CAST(sum(deg) AS BIGINT) AS sig
           | FROM $prev l JOIN dg d ON d.v = l.v GROUP BY lab),
           |kn$i AS MATERIALIZED (SELECT a.v, l.lab AS c,
           |  CAST(count(*) AS BIGINT) AS kin
           | FROM adj a JOIN $prev l ON a.u = l.v GROUP BY 1, 2),
           |cd$i AS (SELECT v, c, max(kin) AS kin FROM (
           |   SELECT v, c, kin FROM kn$i
           |   UNION ALL SELECT l.v, l.lab AS c, coalesce(k.kin, 0)
           |   FROM $prev l LEFT JOIN kn$i k
           |    ON k.v = l.v AND k.c = l.lab) u
           |  GROUP BY 1, 2),
           |mv$i AS (SELECT c.v, c.c,
           |  2 * mm.m * c.kin - d.deg * (s.sig -
           |    CASE WHEN c.c = l.lab THEN d.deg ELSE 0 END) AS score
           | FROM cd$i c JOIN $prev l ON l.v = c.v
           |  JOIN dg d ON d.v = c.v JOIN sg$i s ON s.lab = c.c
           |  CROSS JOIN mm),
           |pk$i AS (SELECT v, c AS plab FROM (SELECT v, c,
           |   row_number() OVER (PARTITION BY v
           |     ORDER BY score DESC, c) AS rk FROM mv$i) t
           |  WHERE rk = 1),
           |lv$i AS MATERIALIZED (SELECT l.v,
           |  CASE WHEN (l.v + $i) % 2 = 0 THEN p.plab ELSE l.lab END
           |   AS lab
           | FROM $prev l JOIN pk$i p ON p.v = l.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        | FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT pa AS v, pb AS u FROM e
        | UNION SELECT pb, pa FROM e),
        |dg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg
        |  FROM adj GROUP BY v),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |lv0 AS (SELECT v, v AS lab FROM dg),
        |$moveRounds,
        |cm AS (SELECT lab, min(l.v) AS community,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(deg) AS BIGINT) AS total_degree
        | FROM lv4 l JOIN dg d ON d.v = l.v GROUP BY lab),
        |ie AS (SELECT la.lab AS lab,
        |  CAST(count(*) AS BIGINT) AS internal_edges
        | FROM e JOIN lv4 la ON e.pa = la.v JOIN lv4 lb ON e.pb = lb.v
        | WHERE la.lab = lb.lab GROUP BY 1)
        |SELECT community, n_members, total_degree,
        | coalesce(ie.internal_edges, 0) AS internal_edges,
        | CAST(4 * CAST(mm.m AS HUGEINT)
        |    * coalesce(ie.internal_edges, 0)
        |   - CAST(total_degree AS HUGEINT) * total_degree AS BIGINT)
        |  AS q_num_contrib
        |FROM cm LEFT JOIN ie ON ie.lab = cm.lab CROSS JOIN mm"""
        .stripMargin
    },
    // q480: stream ≡ batch — the q450 full-recompute replay
    // verbatim on the COMPLETE graph; any splice/replay error in
    // the batched delta path lands as a value mismatch.
    "q480_stream_incr_pagerank" -> copurchasePageRankOracle,
  )
}
