package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Dedup, Linkage, Multimodal, Pca, Similarity, TextAnalysis}
import graft.queries.{Analytics, Relational, Temporal}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator/query shape from SURVEY.md §2
  * (or the LLM-pipeline extension packs); [[oracleSql]] carries the DuckDB
  * ANSI-SQL equivalent the driver hash-compares against at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The /coin_table shape: broadcast dims ⋈ latest-fact-row-per-key. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.coinTable(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // aggregation / scan headliners
    "q1_agg" -> (Analytics.q1Agg _),
    "q3_top_orders" -> (Analytics.q3TopOrders _),
    "q5_local_supplier" -> (Analytics.q5LocalSupplier _),
    // the five Flask-endpoint shapes
    "q_price_chart" -> (Analytics.priceChart _),
    "q_ohlc_resample" -> (Analytics.ohlcResample _),
    "q_ohlc_multi" -> (Analytics.ohlcMulti _),
    "q_latest_per_key" -> (Analytics.latestPerKey _),
    "q_coin_table" -> (Analytics.coinTable _),
    "q_coin_table_ref" -> (Analytics.coinTableRef _),
    "q_mcap_share" -> (Analytics.marketCapShare _),
    // series / scalar surface
    "q_series_stats" -> (Analytics.seriesStats _),
    "q_topk_per_group" -> (Analytics.topkPerGroup _),
    "q_topk_native" -> (Analytics.topkNative _),
    "q_scalar_pack" -> (Analytics.scalarPack _),
    "q_json_extract" -> (Analytics.jsonExtract _),
    "q_map_explode" -> (Analytics.mapExplode _),
    // indicator engine
    "q_indicators" -> (Analytics.indicatorTable _),
    "q_bollinger" -> (Analytics.bollinger _),
    "q_indicator_slice" -> (Analytics.indicatorSlice _),
    "q_lag_diff" -> (Analytics.lagDiff _),
    "q_left_join_fill" -> (Analytics.leftJoinFill _),
    "q_salted_agg" -> (Analytics.saltedAgg _),
    "q_skew_join" -> (Analytics.skewJoin _),
    "q_feature_cross" -> ((s, d) => Analytics.featureCross(s, d)),
    "q_cdc_merge" -> ((s, d) => graft.ops.Cdc.cdcMerge(s, d)),
    "q_time_travel" -> ((s, d) => graft.ops.Cdc.timeTravel(s, d)),
    "q_sessionize" -> (Analytics.sessionize _),
    "q_scd2" -> (Analytics.scd2 _),
    "q_funnel" -> (Analytics.funnel _),
    "q_asof_join" -> (Analytics.asofJoin _),
    "q_asof_forward" -> (Analytics.asofForward _),
    "q_asof_tolerance" -> (Analytics.asofTolerance _),
    "q_range_join" -> (Analytics.rangeJoin _),
    "q_cube_stats" -> (Analytics.cubeStats _),
    "q_grouping_sets" -> (Analytics.groupingSets _),
    "q_argmin_supplier" -> ((s, d) => graft.queries.Relational.cheapestSupplier(s, d)),
    "q_rollup_stats" -> (Analytics.rollupStats _),
    "q_supplier_region" -> (Analytics.supplierByRegion _),
    "q_set_ops" -> (Analytics.setOps _),
    "q_sql_api" -> (Analytics.sqlApi _),
    "q_correlated" -> (Analytics.correlated _),
    "q_pivot" -> (Analytics.pivotCounts _),
    "q_unpivot" -> (Analytics.unpivotPart _),
    "q_window_funcs" -> (Analytics.windowFuncs _),
    "q_range_window" -> (Analytics.rangeWindow _),
    "q_checksum" -> (Analytics.tableChecksum _),
    "q_snapshot_diff" -> (Analytics.snapshotDiff _),
    "q_merge_apply" -> (Analytics.mergeApply _),
    "q_incremental_agg" -> (Analytics.incrementalAgg _),
    "q_exact_variance" -> (Analytics.exactVariance _),
    "q_equidepth_bins" -> (Analytics.equidepthBins _),
    "q_length_buckets" -> (Analytics.lengthBuckets _),
    "q_scalar_pack2" -> (Analytics.scalarPack2 _),
    "q_datetime_pack" -> (Analytics.datetimePack _),
    "q_approx_distinct" -> (Analytics.approxDistinct _),
    "q_sketch_merge" -> (Analytics.sketchMerge _),
    "q_quantile_sketch" -> ((s, d) => Analytics.quantileSketch(s, d)),
    "q_percentiles" -> (Analytics.percentiles _),
    "q_series_collect" -> (Analytics.seriesCollect _),
    // envelope parse/explode surface (P1-P8)
    "q_envelope_roundtrip" -> (Analytics.envelopeRoundtrip _),
    // LLM-pipeline: deduplication
    "q_dedup_exact" -> (Dedup.exactGroups _),
    "q_dedup_jaccard" -> ((s, d) => Dedup.jaccardPairs(s, d)),
    "q_dedup_minhash_lsh" -> (Dedup.lshCandidates _),
    "q_dedup_simhash" -> (Dedup.simhashGroups _),
    // SimHash estimator-accuracy census (the q_minhash_acc twin)
    "q_simhash_acc" -> ((s, d) => Dedup.simhashAccuracy(s, d)),
    // engine-portable bloom (rows, not a blob) + exact FP census
    "q_bloom_fpr" -> ((s, d) => Dedup.bloomFpr(s, d)),
    "q_dedup_embedding" -> ((s, d) => Dedup.embeddingNearDups(s, d)),
    "q_dedup_survivors" -> ((s, d) => Dedup.dedupSurvivors(s, d)),
    "q_dedup_semantic" -> ((s, d) => Dedup.semanticDedup(s, d)),
    "q_winnow" -> ((s, d) => Dedup.winnowSummary(s, d)),
    "q_contamination" -> ((s, d) => Dedup.contamination(s, d)),
    // round 9: span-level decontamination (exact longest shared span
    // between each train doc and the broadcast benchmark set)
    "q_decontam_spans" -> ((s, d) => Dedup.decontamSpans(s, d)),
    "q_decontam_scrub" -> ((s, d) => Dedup.decontamScrub(s, d)),
    // Dedup.containmentPairsPrefix computes the identical result with a
    // subset-side prefix bound (asserted in DedupSpec) — the web-corpus
    // hub-skew path, like jaccardPairsPrefix; on this hub-free synthetic
    // corpus the naive join wins (1.8s vs 4.0s at sf0.1), so it stays
    // the bench default
    "q_containment" -> ((s, d) => Dedup.containmentPairs(s, d)),
    // census-chosen containment strategy (same chooser as q_dedup_auto)
    "q_containment_auto" -> ((s, d) => Dedup.containmentPairsAuto(s, d)),
    // the PPJoin prefix-filtered path as a gated query: identical result
    // to q_dedup_jaccard (same oracle), different physical strategy
    "q_dedup_ppjoin" -> ((s, d) => Dedup.jaccardPairsPrefix(s, d)),
    // census-driven chooser between the naive and prefix strategies
    // (round 11): hub-mass statistic decides, result identical either way
    "q_dedup_auto" -> ((s, d) => Dedup.jaccardPairsAuto(s, d)),
    // LLM-pipeline: similarity search
    "q_ann_topk" -> ((s, d) => Similarity.bruteForceTopK(s, d)),
    // JL sign projection: deterministic md5 sign matrix, integer-exact sums
    "q_jl_project" -> ((s, d) => Similarity.jlProject(s, d)),
    "q_jl_distortion" -> ((s, d) => Similarity.jlDistortion(s, d)),
    // distributed PCA: one-pass O(d²)-state covariance + power method
    "q_embed_cov" -> ((s, d) => Pca.embedCov(s, d)),
    "q_power_iter" -> ((s, d) => Pca.powerIter(s, d)),
    "q_pca_topk" -> ((s, d) => Pca.pcaTopK(s, d)),
    "q_pca_scores" -> ((s, d) => Pca.pcaScores(s, d)),
    // MMR diversity re-rank: bounded greedy loop over a top-N pool
    "q_mmr_rerank" -> ((s, d) => Similarity.mmrRerank(s, d)),
    // second-moment drift monitor: grouped one-pass covariance compare
    "q_cov_drift" -> ((s, d) => Pca.covDrift(s, d)),
    "q_centroids" -> (Similarity.labelCentroids _),
    "q_array_funcs" -> (Similarity.arrayFuncs _),
    "q_lsh_recall" -> ((s, d) => Similarity.lshRecall(s, d)),
    "q_silhouette" -> (Similarity.silhouette _),
    "q_ann_lsh_buckets" -> (Similarity.lshBuckets _),
    "q_histogram" -> (Analytics.histogram _),
    "q_outliers" -> (Analytics.outliers _),
    "q_stratified_sample" -> (Analytics.stratifiedSample _),
    "q_ann_ivf" -> ((s, d) => Similarity.ivfTopK(s, d)), // rows-only check
    "q_ann_quantized" -> ((s, d) => Similarity.quantizedTopK(s, d)),
    // batch retrieval: many queries, one corpus scan, custom TopKPerKey
    "q_ann_batch" -> ((s, d) => Similarity.batchTopK(s, d)),
    // bloom-prefiltered delta-vs-history anti-join (same oracle as the
    // plain incremental form — bit-identical output by construction)
    "q_incremental_bloom" -> ((s, d) => Dedup.incrementalDedupBloom(s, d)),
    // near-dup delta-vs-history screen over the maintained LSH band index
    "q_incremental_fuzzy" -> ((s, d) => Dedup.incrementalDedupFuzzy(s, d)),
    // round 5 (cont.): tokenizer induction, exact-span dedup, link prediction
    "q_bpe_pairs" -> ((s, d) => TextAnalysis.bpePairStats(s, d)),
    "q_dup_spans" -> ((s, d) => TextAnalysis.duplicatedSpans(s, d)),
    // round 6: exact longest-duplicated-span via suffix-array doubling
    "q_longest_dup_span" -> ((s, d) => graft.ops.DupSpans.longestDupSpan(s, d)),
    // round 6: product-quantization ANN (integer-exact train/encode/ADC)
    "q_ann_pq" -> ((s, d) => Similarity.pqTopK(s, d)),
    // round 6: DSIR hashed-bigram importance weights for data selection
    "q_dsir" -> ((s, d) => TextAnalysis.dsirWeights(s, d)),
    // round 6: BM25 + embedding-cosine reciprocal-rank fusion
    "q_hybrid_rrf" -> ((s, d) => TextAnalysis.hybridTopK(s, d)),
    // round 6: the iterative BPE trainer itself, oracle-gated at 4 merges
    // (BpeSpec covers deeper runs; the oracle replays each round in SQL)
    "q_bpe_learn" -> ((s, d) => TextAnalysis.bpeLearn(s, d, merges = 4)),
    // round 6: apply the learned tokenizer corpus-wide (piece fertility)
    "q_bpe_encode" -> ((s, d) => TextAnalysis.bpeEncode(s, d)),
    // round 6: duplicated-span EXCISION (the rewrite form of q_dup_spans)
    "q_span_scrub" -> ((s, d) => TextAnalysis.spanScrub(s, d)),
    // round 6: cross-source shared-gram contamination matrix
    "q_source_overlap" -> ((s, d) => TextAnalysis.sourceOverlap(s, d)),
    // round 6: Gopher rule filter with exact cross-multiplied thresholds
    "q_gopher_rules" -> ((s, d) => TextAnalysis.gopherRules(s, d)),
    "q_pmi" -> ((s, d) => TextAnalysis.pmiPairs(s, d)),
    "q_readability" -> ((s, d) => TextAnalysis.readability(s, d)),
    "q_mix_temperature" -> ((s, d) => TextAnalysis.mixTemperature(s, d)),
    // round 6: Gopher repetition metrics (top-bigram / dup-3-gram mass)
    "q_gopher_rep" -> ((s, d) => TextAnalysis.gopherRepetition(s, d)),
    "q_link_predict" -> ((s, d) => graft.ops.Graph.copurchaseLinks(s, d)),
    "q_kcore" -> ((s, d) => graft.ops.Graph.copurchaseKCore(s, d)),
    "q_neg_sample" -> ((s, d) => graft.ops.Graph.copurchaseNegatives(s, d)),
    "q_ks_drift" -> ((s, d) => graft.ops.Monitor.ksDrift(s, d)),
    "q_psi" -> ((s, d) => graft.ops.Monitor.psi(s, d)),
    "q_window_psi" -> ((s, d) => graft.streaming.StreamDrift.windowPsi(s, d)),
    "q_stream_cdc" -> ((s, d) => graft.streaming.StreamCdc.snapshotBatch(s, d)),
    // micro-batch split replay of the CDC snapshot (q_mv_replay pattern)
    "q_cdc_replay" -> ((s, d) => graft.streaming.StreamCdc.replayGate(s, d)),
    "q_token_entropy" -> ((s, d) => TextAnalysis.tokenEntropy(s, d)),
    "q_cluster_split" -> ((s, d) => graft.ops.Graph.clusterSafeSplit(s, d)),
    // LLM-pipeline: text analysis
    "q_doc_features" -> (TextAnalysis.docFeatures _),
    "q_corpus_stats" -> (TextAnalysis.corpusStats _),
    "q_train_split" -> (TextAnalysis.splitAssignments _),
    "q_vocab" -> ((s, d) => TextAnalysis.vocab(s, d)),
    "q_tfidf" -> (TextAnalysis.topTfidf _),
    "q_shard_census" -> ((s, d) => TextAnalysis.shardCensus(s, d)),
    "q_redact" -> (TextAnalysis.redact _),
    "q_zorder" -> (Analytics.zorderCodes _),
    "q_pack_sequences" -> ((s, d) => TextAnalysis.packSequences(s, d)),
    "q_bigram_lm" -> (TextAnalysis.bigramLmScore _),
    // interpolated Kneser–Ney trigram: continuation-count backoff
    "q_kn_trigram" -> ((s, d) => TextAnalysis.knTrigramScore(s, d)),
    // S x S cross-source NLL matrix from one vocab-bounded fan-out
    "q_domain_shift" -> (TextAnalysis.domainShift _),
    "q_domain_reweight" -> ((s, d) => TextAnalysis.domainReweight(s, d)),
    "q_script_mix" -> ((s, d) => TextAnalysis.scriptMix(s, d)),
    "q_js_divergence" -> (TextAnalysis.jsDivergence _),
    "q_kmv_overlap" -> ((s, d) => TextAnalysis.kmvOverlap(s, d)),
    "q_key_sample" -> ((s, d) => TextAnalysis.keySample(s, d)),
    // language-ID accuracy: gold-vs-predicted confusion cells
    "q_lid_confusion" -> (TextAnalysis.lidConfusion _),
    "q_perplexity" -> (TextAnalysis.perplexityBuckets _),
    "q_bm25" -> ((s, dir) => TextAnalysis.bm25TopK(s, dir)),
    "q_data_prep" -> ((s, d) => TextAnalysis.dataPrep(s, d)),
    "q_repetition" -> (TextAnalysis.repetition _),
    "q_quality_classifier" -> (TextAnalysis.qualityClassifier _),
    "q_weighted_sample" -> (TextAnalysis.weightedSample _),
    "q_inverted_index" -> (TextAnalysis.invertedIndex _),
    "q_lang_quota" -> ((s, d) => TextAnalysis.langQuota(s, d)),
    // round 6: UniMax waterfilled language budget + deterministic sample
    "q_unimax" -> ((s, d) => TextAnalysis.unimaxSample(s, d)),
    "q_compaction_plan" -> ((s, d) => graft.sink.Layout.compactionPlan(s, d)),
    "q_heavy_hitters" -> ((s, d) => TextAnalysis.heavyHitters(s, d)),
    // round 6 (third session): mergeable count-min sketch, fixed-round
    // majority label propagation, semi/anti existence joins
    "q_countmin" -> ((s, d) => TextAnalysis.countMin(s, d)),
    "q_label_prop" -> ((s, d) => graft.ops.Graph.labelPropagation(s, d)),
    "q_semi_anti" -> ((s, d) => graft.queries.Relational.existenceJoins(s, d)),
    "q_dq_checks" -> ((s, d) => graft.ops.DataQuality.dqChecks(s, d)),
    "q_benford" -> ((s, d) => graft.ops.DataQuality.benford(s, d)),
    "q_knn_graph" -> ((s, d) => Similarity.knnGraph(s, d)),
    "q_knn_compensated" -> ((s, d) => Similarity.knnGraphCompensated(s, d)),
    "q_plane_sweep" -> ((s, d) => Similarity.planeSweep(s, d)),
    "q_bucket_stats" -> ((s, d) => Similarity.bucketStats(s, d)),
    "q_k_anon" -> ((s, d) => graft.ops.DataQuality.kAnonymity(s, d)),
    "q_join_size" -> ((s, d) => graft.ops.Skew.joinSizeEstimate(s, d)),
    "q_holt" -> ((s, d) => graft.indicators.Indicators.holtSmoothing(s, d)),
    "q_zipf" -> ((s, d) => TextAnalysis.zipfFit(s, d)),
    "q_auc" -> ((s, d) => TextAnalysis.classifierAuc(s, d)),
    "q_confusion" -> ((s, d) => TextAnalysis.confusion(s, d)),
    "q_pr_curve" -> ((s, d) => TextAnalysis.prCurve(s, d)),
    "q_mutual_info" -> ((s, d) => graft.ops.Monitor.mutualInfo(s, d)),
    "q_ndcg" -> ((s, d) => Similarity.lshNdcg(s, d)),
    "q_multiprobe" -> ((s, d) => Similarity.multiProbeRecall(s, d)),
    "q_dup_by_source" -> ((s, d) => Dedup.dupRateBySource(s, d)),
    "q_probe_sweep" -> ((s, d) => Similarity.probeSweep(s, d)),
    "q_minhash_acc" -> ((s, d) => Dedup.minhashAccuracy(s, d)),
    "q_forecast_eval" -> ((s, d) => graft.indicators.Indicators.forecastEval(s, d)),
    "q_forecast_compare" -> ((s, d) => graft.indicators.Indicators.forecastCompare(s, d)),
    "q_anomaly" -> ((s, d) => graft.ops.Monitor.forecastAnomalies(s, d)),
    "q_dedup_sweep" -> ((s, d) => Dedup.thresholdSweep(s, d)),
    "q_prep_funnel" -> ((s, d) => TextAnalysis.prepFunnel(s, d)),
    "q_ess" -> ((s, d) => TextAnalysis.effectiveSampleSize(s, d)),
    "q_calibration" -> ((s, d) => TextAnalysis.calibration(s, d)),
    "q_isotonic" -> ((s, d) => TextAnalysis.isotonic(s, d)),
    // LLM-pipeline: dedup cluster resolution + profiling + Wilder RSI
    "q_dedup_clusters" -> ((s, d) => graft.ops.Graph.docClusters(s, d)),
    "q_cluster_sizes" -> ((s, d) => graft.ops.Graph.clusterSizes(s, d)),
    // round 6: longest-doc canonical election per near-dup cluster
    "q_dedup_best" -> ((s, d) => graft.ops.Graph.canonicalSurvivors(s, d)),
    "q_epoch_shuffle" -> ((s, d) => TextAnalysis.epochShuffle(s, d)),
    "q_profile" -> (Analytics.profileTable _),
    "q_rsi_wilder" -> (Analytics.rsiWilder _),
    // LLM-pipeline: multimodal plumbing
    "q_multimodal_meta" -> (Multimodal.mediaMeta _),
    "q_decode_features" -> ((s, d) =>
      Multimodal.decodeFeatures(s, d).toDF().orderBy("doc_id")),
    "q_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(s, d)
        // hex at the comparison boundary: binary columns don't hash
        // portably across parquet readers
        .withColumn("frame_hex", org.apache.spark.sql.functions.hex(
          org.apache.spark.sql.functions.col("frame_bytes")))
        .drop("frame_bytes")
        .orderBy("doc_id", "frame_idx")),
    // real 24bpp BMP files built AND parsed as column algebra; the
    // oracle replays the pixel formulas closed-form, never touching bytes
    "q_bmp_decode" -> ((s, d) => Multimodal.bmpDecodeFeatures(s, d)),
    // 2x2 box-filter thumbnail: cell-exact integer downsample
    "q_bmp_thumb" -> ((s, d) => Multimodal.bmpThumb(s, d)),
    "q_image_phash" -> ((s, d) => Multimodal.imagePhash(s, d)),
    // loudest-frame selection: integer frame energies, struct-argmax
    "q_wav_frames" -> ((s, d) => Multimodal.wavFrames(s, d)),
    // real PCM16 WAV files built AND parsed as column algebra (signed
    // little-endian samples); oracle replays the sample formula
    "q_wav_decode" -> ((s, d) => Multimodal.wavDecodeFeatures(s, d)),
    // training-example prep: PII scrub, sequence packing, RAG chunking
    "q_pii_scan" -> ((s, d) => graft.ops.Prep.piiScan(s, d)),
    "q_pii_summary" -> ((s, d) => graft.ops.Prep.piiSummary(s, d)),
    "q_pack_bins" -> ((s, d) => graft.ops.Prep.packSequences(s, d)),
    "q_cdc_chunks" -> ((s, d) => graft.ops.Prep.cdcChunks(s, d)),
    "q_cdc_incremental" -> ((s, d) => graft.ops.Prep.cdcIncremental(s, d)),
    "q_cdc_dedup" -> ((s, d) => graft.ops.Prep.cdcDedup(s, d)),
    "q_chunk_chars" -> ((s, d) => graft.ops.Prep.chunkOverlap(s, d)),
    // round 4: graph metric, true k-means, skyline, robust stats, cohorts
    "q_pagerank" -> ((s, d) => graft.ops.Graph.tradeRank(s, d)),
    "q_random_walks" -> ((s, d) => graft.ops.Graph.copurchaseWalks(s, d)),
    "q_skipgram" -> ((s, d) => graft.ops.Graph.skipgramPairs(s, d)),
    "q_ivf_kmeans" -> ((s, d) => Similarity.kmeansQuantized(s, d)),
    "q_ivf_maintenance" -> ((s, d) => Similarity.ivfMaintenance(s, d)),
    "q_ivf_retrain_gain" -> ((s, d) => Similarity.ivfRetrainGain(s, d)),
    "q_skyline" -> (Analytics.skyline _),
    "q_mode" -> (Analytics.modePerUser _),
    "q_mad" -> (Analytics.madPerType _),
    "q_cohort_retention" -> (Analytics.cohortRetention _),
    "q_rfm" -> (Analytics.rfm _),
    // round 4 (cont.): resample/fill, chunking, triangles, incremental
    // dedup, exact-moment regression
    "q_gap_fill" -> (Analytics.gapFill _),
    "q_interpolate" -> (Analytics.interpolate _),
    "q_ols_trend" -> (Analytics.olsTrend _),
    "q_chunk_overlap" -> ((s, d) => TextAnalysis.chunkOverlap(s, d)),
    "q_incremental_dedup" -> ((s, d) => Dedup.incrementalDedup(s, d)),
    "q_triangles" -> ((s, d) => graft.ops.Graph.copurchaseTriangles(s, d)),
    // round 4 (cont. 2): feature prep + blocking dedup + weighted price
    "q_feature_scale" -> (Analytics.featureScale _),
    "q_robust_outliers" -> ((s, d) => Analytics.robustOutliers(s, d)),
    "q_temporal_split" -> ((s, d) => Analytics.temporalSplit(s, d)),
    "q_label_encode" -> (Analytics.labelEncode _),
    "q_target_encode" -> ((s, d) => graft.ops.Prep.targetEncode(s, d)),
    "q_vwap" -> (Analytics.vwap _),
    "q_dedup_sorted" -> ((s, d) => Dedup.sortedNeighborhood(s, d)),
    "q_corr_matrix" -> (Analytics.corrMatrix _),
    "q_degree_dist" -> ((s, d) => graft.ops.Graph.degreeDistribution(s, d)),
    // round 4 (cont. 3): TPC-H classics adapted to the trimmed schema
    "q_trade_volume" -> (Relational.tradeVolume _),
    "q_ship_priority" -> (Relational.shipPriority _),
    "q_promo_share" -> (Relational.promoShare _),
    "q_large_volume" -> ((s, d) => Relational.largeVolumeCustomers(s, d)),
    "q_brand_revenue" -> (Relational.brandRevenue _),
    // round 4 (cont. 3): interval/path/sequence analytics
    "q_interval_merge" -> ((s, d) => Temporal.intervalMerge(s, d)),
    "q_drawdown" -> (Temporal.drawdown _),
    "q_twap" -> (Temporal.twap _),
    "q_transitions" -> (Temporal.transitionMatrix _),
    "q_cum_users" -> (Temporal.cumulativeDistinctUsers _),
    "q_seasonality" -> (Temporal.seasonality _),
    "q_weighted_median" -> (Temporal.weightedMedian _),
    "q_rolling_slope" -> ((s, d) => Temporal.rollingSlope(s, d)),
    "q_realized_vol" -> (Temporal.realizedVol _),
    "q_market_beta" -> (Temporal.marketBeta _),
    "q_lead_lag" -> ((s, d) => Temporal.leadLag(s, d)),
    "q_roll_spread" -> (Temporal.rollSpread _),
    "q_amihud" -> (Temporal.amihud _),
    "q_tick_rule" -> (Temporal.tickRule _),
    "q_kyle_lambda" -> (Temporal.kyleLambda _),
    "q_km_conversion" -> ((s, d) => Temporal.kmConversion(s, d)),
    "q_var_es" -> ((s, d) => Temporal.varEs(s, d)),
    "q_winsorize" -> ((s, d) => Temporal.winsorize(s, d)),
    "q_window_p95" -> ((s, d) => graft.streaming.StreamTail.windowTail(s, d)),
    "q_hurst" -> (Temporal.hurst _),
    "q_cusum" -> ((s, d) => graft.ops.Monitor.cusum(s, d)),
    "q_attribution" -> ((s, d) => Temporal.attribution(s, d)),
    "q_ab_cuped" -> ((s, d) => Temporal.abCuped(s, d)),
    "q_item_pairs" -> ((s, d) => Relational.itemPairs(s, d)),
    // round 4 (cont. 3): record linkage + corpus novelty
    "q_fuzzy_pairs" -> ((s, d) => Linkage.fuzzyPairsByBrand(s, d)),
    "q_ngram_novelty" -> ((s, d) => TextAnalysis.ngramNovelty(s, d)),
    // round 4 (cont. 4): DataSource V2 feed table (pushdown-pruned scan)
    "q_ticker_summary" -> (graft.sources.TickerQueries.summary _),
    // round 6: DSv2 aggregate pushdown — closed-form per-partition rows
    "q_ticker_agg" -> (graft.sources.TickerQueries.aggCensus _),
    // the transformWithState fold in batch mode over the same feed
    "q_state_v2" -> (graft.streaming.StateV2.tickerPartials _),
    // round 10: MV generation machinery hash-gated vs a DuckDB replay
    // (the q_state_v2 pattern applied to the StreamingMV family)
    "q_mv_replay" -> (graft.streaming.StreamingMV.replayGate _),
    // round 7 (cont. 4): web-crawl curation + feature selection
    "q_url_canon" -> (graft.ops.Web.urlCanon _),
    "q_dedup_url" -> (graft.ops.Web.dedupUrl _),
    "q_unicode_norm" -> (graft.ops.TextAnalysis.unicodeNorm _),
    "q_domain_stats" -> (graft.ops.Web.domainStats _),
    "q_domain_cap" -> ((s, d) => graft.ops.Web.domainCap(s, d)),
    "q_chi2_terms" -> ((s, d) => TextAnalysis.chi2Terms(s, d)),
    "q_misra_gries" -> ((s, d) => TextAnalysis.misraGries(s, d)),
  )

  /** Shared oracle CTE: distinct word-3-gram shingles per document
    * (mirrors [[graft.ops.Dedup.shingles]]). */
  private val shingleCte: String =
    """docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |idx AS (SELECT doc_id, unnest(range(1, len(w) - 1)) AS i, w FROM docs),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx)""".stripMargin

  private val minhashSigSql: String = {
    val mins = (0 until Dedup.MinhashK)
      .map(k => s"min(md5('mh$k|' || s)) AS h$k").mkString(",\n  ")
    s"sig AS (SELECT doc_id,\n  $mins\nFROM sh GROUP BY doc_id)"
  }

  private val simhashBitsSql: String = (1 to 16).map { p =>
    s"""CASE WHEN sum(CASE WHEN substr(md5(t), $p, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"""
  }.mkString(" ||\n    ")

  /** DuckDB oracle SQL per query (column names/aliases must match the
    * Spark result exactly — the driver sorts columns by name and hashes). */
  /** Unrolled 8-round 3-core peel (mirrors Graph.copurchaseKCore). The
    * peel fixpoint is idempotent, so unrolling MORE rounds than the data
    * needs is still exact — the co-purchase graph converges in ≤4 rounds
    * (GraphSpec asserts it), 8 gives margin against data regeneration. */
  private def kCoreSql(k: Int = 3, rounds: Int = 8): String = {
    val base =
      """WITH op AS (SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
        |            FROM lineitem l JOIN orders ord ON l.l_orderkey = ord.o_orderkey
        |            WHERE ord.o_orderdate >= TIMESTAMP '1995-01-01'
        |              AND ord.o_orderdate < TIMESTAMP '1995-07-01'),
        |ok AS (SELECT o FROM op GROUP BY o HAVING count(*) <= 10),
        |e0 AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
        |       FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        |       JOIN ok ON x.o = ok.o)""".stripMargin
    // every stage is MATERIALIZED: each e_i is referenced ~3x by round
    // i+1, and inlining would re-expand the whole chain exponentially
    val peels = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT v, count(*) AS deg FROM (
         |  SELECT a AS v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) GROUP BY v),
         |s$i AS MATERIALIZED (SELECT v FROM d$i WHERE deg >= $k),
         |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         |        JOIN s$i x ON e${i - 1}.a = x.v JOIN s$i y ON e${i - 1}.b = y.v)"""
        .stripMargin
    }.mkString(",\n")
    s"""$base,
       |$peels
       |SELECT v, count(*) AS core_deg FROM (
       |  SELECT a AS v FROM e$rounds UNION ALL SELECT b FROM e$rounds) GROUP BY v
       |ORDER BY v""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q_kcore" -> kCoreSql(),

    "q_ks_drift" -> graft.ops.Monitor.ksDriftSql,

    "q_psi" -> graft.ops.Monitor.psiSql,

    "q_window_psi" -> graft.streaming.StreamDrift.windowPsiSql,

    // streaming CDC snapshot, batch face (mirrors StreamCdc.snapshotBatch):
    // the stateful fold must equal the relational latest-op-wins replay
    "q_stream_cdc" ->
      """WITH log AS (
        |  SELECT user_id,
        |    CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
        |         ELSE 'U' END AS op,
        |    CAST(round(value * 100) AS BIGINT) AS cents, ts, event_id
        |  FROM events),
        |r AS (SELECT user_id, op, cents,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts DESC, event_id DESC) AS rn,
        |        count(*) OVER (PARTITION BY user_id) AS version
        |      FROM log)
        |SELECT user_id,
        |  CASE WHEN op = 'D' THEN 0 ELSE cents END AS cents,
        |  op = 'D' AS deleted,
        |  CAST(version AS BIGINT) AS version
        |FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    // streaming CDC replay across 5 micro-batch splits (the q_mv_replay
    // pattern): the final transformWithState snapshot of the bounded
    // user slice must equal the relational replay of the same slice
    "q_cdc_replay" ->
      """WITH log AS (
        |  SELECT user_id,
        |    CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
        |         ELSE 'U' END AS op,
        |    CAST(round(value * 100) AS BIGINT) AS cents, ts, event_id
        |  FROM events WHERE user_id % 7 = 0),
        |r AS (SELECT user_id, op, cents,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts DESC, event_id DESC) AS rn,
        |        count(*) OVER (PARTITION BY user_id) AS version
        |      FROM log)
        |SELECT user_id,
        |  CASE WHEN op = 'D' THEN 0 ELSE cents END AS cents,
        |  op = 'D' AS deleted,
        |  CAST(version AS BIGINT) AS version,
        |  CAST(5 AS BIGINT) AS n_batches
        |FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    // deterministic md5-probe negative sampling over the co-purchase
    // graph (mirrors Graph.copurchaseNegatives, k=4, seed neg1)
    "q_neg_sample" ->
      """WITH op AS (SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
        |            FROM lineitem l JOIN orders ord ON l.l_orderkey = ord.o_orderkey
        |            WHERE ord.o_orderdate >= TIMESTAMP '1995-01-01'
        |              AND ord.o_orderdate < TIMESTAMP '1995-07-01'),
        |ok AS (SELECT o FROM op GROUP BY o HAVING count(*) <= 10),
        |e AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
        |     FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        |     JOIN ok ON x.o = ok.o),
        |nodes AS (SELECT DISTINCT v FROM (
        |  SELECT a AS v FROM e UNION ALL SELECT b FROM e)),
        |idx AS MATERIALIZED (
        |  SELECT v, row_number() OVER (ORDER BY v) - 1 AS idx FROM nodes),
        |n AS (SELECT count(*) AS n_nodes FROM idx),
        |probes AS (
        |  SELECT x.v AS a, i.i AS i,
        |    ('0x' || substr(md5('neg1|' || x.v || '|' || i.i), 1, 8))::BIGINT
        |      % n.n_nodes AS idx
        |  FROM idx x CROSS JOIN n
        |  CROSS JOIN (SELECT unnest(range(1, 5)) AS i) i),
        |cand AS (SELECT p.a, CAST(p.i AS BIGINT) AS i, t.v AS b
        |         FROM probes p JOIN idx t USING (idx) WHERE p.a <> t.v)
        |SELECT a, i, b FROM cand
        |WHERE NOT EXISTS (SELECT 1 FROM e
        |  WHERE e.a = least(cand.a, cand.b) AND e.b = greatest(cand.a, cand.b))
        |ORDER BY a, i""".stripMargin,

    // per-doc unigram entropy (mirrors TextAnalysis.tokenEntropy):
    // H = log2(n) - sum(c*log2 c)/n
    "q_token_entropy" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |        CAST(count(*) AS BIGINT) AS n_distinct,
        |        sum(c * log2(c)) AS s
        |      FROM tf GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        |  round(log2(n_tokens) - s / n_tokens, 6) AS entropy,
        |  CASE WHEN n_distinct > 1
        |       THEN round((log2(n_tokens) - s / n_tokens) / log2(n_distinct), 6)
        |       ELSE 0.0 END AS norm_entropy
        |FROM a ORDER BY doc_id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      """SELECT o_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q_price_chart" ->
      """SELECT event_id, user_id, event_type, ts, round(value, 6) AS value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-22 00:00:00'
        |  AND event_type LIKE '%e'
        |ORDER BY event_id""".stripMargin,

    "q_ohlc_resample" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, value,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                       ORDER BY ts, event_id) AS rn_open,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                       ORDER BY ts DESC, event_id DESC) AS rn_close
        |  FROM events)
        |SELECT user_id, day,
        |  round(max(CASE WHEN rn_open = 1 THEN value END), 6) AS open,
        |  round(max(value), 6) AS high,
        |  round(min(value), 6) AS low,
        |  round(max(CASE WHEN rn_close = 1 THEN value END), 6) AS close,
        |  count(*) AS n_ticks
        |FROM ev
        |GROUP BY user_id, day
        |ORDER BY user_id, day""".stripMargin,

    "q_ohlc_multi" ->
      """WITH ev AS (SELECT user_id, ts, event_id, value, epoch_us(ts) AS us
        |            FROM events),
        |fr AS (
        |  SELECT user_id, ts, event_id, value, '1h' AS tf,
        |         us // 3600000000 AS bucket FROM ev
        |  UNION ALL SELECT user_id, ts, event_id, value, '1d',
        |         us // 86400000000 FROM ev
        |  UNION ALL SELECT user_id, ts, event_id, value, '1w',
        |         (us // 86400000000 + 3) // 7 FROM ev
        |  UNION ALL SELECT user_id, ts, event_id, value, '1M',
        |         CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT) FROM ev),
        |rk AS (
        |  SELECT user_id, tf, bucket, value,
        |    row_number() OVER (PARTITION BY user_id, tf, bucket
        |                       ORDER BY ts, event_id) AS ro,
        |    row_number() OVER (PARTITION BY user_id, tf, bucket
        |                       ORDER BY ts DESC, event_id DESC) AS rc
        |  FROM fr)
        |SELECT user_id, tf, bucket,
        |  round(max(CASE WHEN ro = 1 THEN value END), 6) AS open,
        |  round(max(value), 6) AS high,
        |  round(min(value), 6) AS low,
        |  round(max(CASE WHEN rc = 1 THEN value END), 6) AS close,
        |  count(*) AS n_ticks
        |FROM rk
        |GROUP BY user_id, tf, bucket
        |ORDER BY user_id, tf, bucket""".stripMargin,

    "q_latest_per_key" ->
      """SELECT user_id, event_type, ts, event_id, round(value, 6) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                                   ORDER BY ts DESC, event_id DESC) AS rnk
        |      FROM events)
        |WHERE rnk = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "q_coin_table" ->
      """SELECT c_custkey, c_name, n_name, r_name, o_orderkey,
        |  round(o_totalprice, 6) AS o_totalprice, o_orderdate
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |                                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rnk
        |      FROM orders) o
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE rnk = 1
        |ORDER BY c_custkey""".stripMargin,

    "q_coin_table_ref" ->
      """WITH a AS (SELECT user_id, ts AS a_ts, event_id AS a_id, value AS a_value
        |           FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT user_id, ts AS b_ts, event_id AS b_id, value AS b_value
        |      FROM events WHERE event_type = 'click'),
        |c AS (SELECT user_id, ts AS c_ts, event_id AS c_id, value AS c_value
        |      FROM events WHERE event_type = 'view'),
        |j AS (SELECT user_id, a_ts, a_id, a_value, b_ts, b_id, b_value, c_ts, c_id, c_value,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY a_ts DESC, a_id DESC, b_ts DESC, b_id DESC, c_ts DESC, c_id DESC) AS rnk
        |      FROM a JOIN b USING(user_id) JOIN c USING(user_id))
        |SELECT user_id, a_ts, round(a_value, 6) AS a_value,
        |       b_ts, round(b_value, 6) AS b_value,
        |       c_ts, round(c_value, 6) AS c_value
        |FROM j WHERE rnk = 1
        |ORDER BY user_id""".stripMargin,

    "q_mcap_share" ->
      """WITH ev AS (SELECT *, CAST(ts AS DATE) AS day FROM events),
        |last AS (SELECT max(day) AS last_day FROM ev),
        |g AS (SELECT event_type, sum(value) AS total_value, count(*) AS n
        |      FROM ev, last WHERE day = last_day GROUP BY event_type)
        |SELECT event_type, round(total_value, 6) AS total_value, n,
        |       round(total_value / sum(total_value) OVER (), 6) AS share
        |FROM g
        |ORDER BY event_type""".stripMargin,

    "q_series_stats" ->
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 4) AS sum_value,
        |  round(avg(value), 6) AS avg_value,
        |  min(ts) AS first_ts, max(ts) AS last_ts,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_topk_per_group" ->
      """SELECT user_id, rnk, event_id, round(value, 6) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY value DESC, event_id) AS rnk
        |      FROM events)
        |WHERE rnk <= 3
        |ORDER BY user_id, rnk""".stripMargin,

    "q_topk_native" ->
      """SELECT user_id, event_id, round(value, 6) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY value DESC, event_id) AS rnk
        |      FROM events)
        |WHERE rnk <= 3
        |ORDER BY user_id, event_id""".stripMargin,

    "q_scalar_pack" ->
      """SELECT p_partkey,
        |  string_split(p_type, ' ')[1] AS type_head,
        |  concat_ws('_', p_brand, p_partkey) AS brand_id,
        |  CASE WHEN p_type LIKE '%STEEL' THEN 1 ELSE 0 END AS is_steel,
        |  CASE WHEN p_size <> 0 THEN round(p_retailprice / p_size, 6) END AS price_per_size,
        |  round(p_retailprice * 1.1 - 5.0, 6) AS adjusted
        |FROM part
        |ORDER BY p_partkey""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id,
        |  CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS k
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q_map_explode" ->
      """SELECT event_id, 'k' AS key,
        |  CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS value
        |FROM events
        |ORDER BY event_id, key""".stripMargin,

    "q_indicators" ->
      """WITH RECURSIVE base AS (
        |  SELECT user_id, event_type, ts, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |rec AS (
        |  SELECT user_id, event_type, rn, value,
        |         value AS ema12, value AS ema20, value AS ema26
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.user_id, b.event_type, b.rn, b.value,
        |    (2.0/13.0) * b.value + (1.0 - 2.0/13.0) * r.ema12,
        |    (2.0/21.0) * b.value + (1.0 - 2.0/21.0) * r.ema20,
        |    (2.0/27.0) * b.value + (1.0 - 2.0/27.0) * r.ema26
        |  FROM rec r JOIN base b
        |    ON b.user_id = r.user_id AND b.event_type = r.event_type
        |   AND b.rn = r.rn + 1),
        |d AS (
        |  SELECT *, value - lag(value) OVER (PARTITION BY user_id, event_type
        |                                     ORDER BY ts, event_id) AS delta
        |  FROM base),
        |g AS (
        |  SELECT *,
        |    CASE WHEN delta > 0 THEN delta ELSE 0 END AS gain_v,
        |    CASE WHEN delta < 0 THEN -delta ELSE 0 END AS loss_v
        |  FROM d),
        |win AS (
        |  SELECT user_id, event_type, ts, event_id, rn,
        |    CASE WHEN count(*) OVER w20 = 20 THEN avg(value) OVER w20 END AS sma_20,
        |    count(*) OVER w14 AS c14,
        |    avg(gain_v) OVER w14 AS ag,
        |    avg(loss_v) OVER w14 AS al
        |  FROM g
        |  WINDOW w20 AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
        |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
        |         w14 AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT w.user_id, w.event_type, w.ts, w.event_id,
        |  CAST(round(w.sma_20 * 1e6) AS BIGINT) AS sma_20_q6,
        |  CAST(round(r.ema20 * 1e6) AS BIGINT) AS ema_20_q6,
        |  CAST(round((CASE WHEN w.c14 <> 14 THEN NULL
        |             WHEN w.al = 0 AND w.ag = 0 THEN NULL
        |             WHEN w.al = 0 THEN 100.0
        |             ELSE 100.0 - 100.0 / (1.0 + w.ag / w.al) END) * 1e6)
        |    AS BIGINT) AS rsi_14_q6,
        |  CAST(round((r.ema12 - r.ema26) * 1e6) AS BIGINT) AS macd_q6
        |FROM win w JOIN rec r
        |  ON w.user_id = r.user_id AND w.event_type = r.event_type AND w.rn = r.rn
        |ORDER BY w.user_id, w.event_type, w.ts, w.event_id""".stripMargin,

    "q_bollinger" ->
      """WITH w AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN count(*) OVER f = 20 THEN avg(value) OVER f END AS mid,
        |    CASE WHEN count(*) OVER f = 20 THEN stddev_samp(value) OVER f END AS sd
        |  FROM events
        |  WINDOW f AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_type, ts, event_id,
        |  round(mid, 6) AS bb_mid,
        |  round(mid + 2.0 * sd, 6) AS bb_upper,
        |  round(mid - 2.0 * sd, 6) AS bb_lower
        |FROM w
        |ORDER BY user_id, event_type, ts, event_id""".stripMargin,

    "q_lag_diff" ->
      """SELECT user_id, event_type, ts, event_id,
        |  round(value - lag(value) OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY ts, event_id), 6) AS delta
        |FROM events
        |ORDER BY user_id, event_type, ts, event_id""".stripMargin,

    "q_indicator_slice" ->
      """SELECT * FROM (
        |  SELECT user_id, event_type, ts, event_id,
        |    round(value - lag(value) OVER (PARTITION BY user_id, event_type
        |                                   ORDER BY ts, event_id), 6) AS delta
        |  FROM events
        |  ORDER BY user_id, event_type, ts, event_id
        |  LIMIT 1000)
        |WHERE event_type LIKE '%k'
        |ORDER BY user_id, event_type, ts, event_id""".stripMargin,

    "q_left_join_fill" ->
      """SELECT n_nationkey, n_name,
        |  coalesce(g.n_building, 0) AS n_building,
        |  coalesce(g.total_bal, 0) AS total_bal
        |FROM nation
        |LEFT JOIN (SELECT c_nationkey, count(*) AS n_building,
        |                  round(sum(c_acctbal), 4) AS total_bal
        |           FROM customer WHERE c_mktsegment = 'BUILDING'
        |           GROUP BY c_nationkey) g
        |  ON n_nationkey = g.c_nationkey
        |ORDER BY n_nationkey""".stripMargin,

    "q_salted_agg" ->
      """SELECT event_type, count(event_id) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS total_id,
        |  min(value) AS lo, max(value) AS hi
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_skew_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS users
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_cdc_merge" -> graft.ops.Cdc.cdcMergeSql,

    // hashed (event_type x hour) feature crosses with collision census
    // (mirrors Analytics.featureCross, 64 buckets)
    "q_feature_cross" ->
      """WITH c AS (
        |  SELECT event_type || '|' || CAST(hour(ts) AS VARCHAR) AS crs
        |  FROM events)
        |SELECT ('0x' || substr(md5(crs), 1, 2))::BIGINT % 64 AS bucket,
        |  count(*) AS n_rows,
        |  CAST(count(DISTINCT crs) AS BIGINT) AS n_crosses,
        |  min(crs) AS min_cross
        |FROM c GROUP BY bucket
        |ORDER BY bucket""".stripMargin,

    "q_time_travel" -> graft.ops.Cdc.timeTravelSql,

    // per-part argmin supplier (mirrors Relational.cheapestSupplier)
    "q_argmin_supplier" ->
      """WITH obs AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
        |  FROM lineitem),
        |m AS (SELECT l_partkey, min(price_cents) AS min_cents
        |      FROM obs GROUP BY l_partkey),
        |a AS (SELECT o.l_partkey, o.price_cents AS min_cents,
        |        min(o.l_suppkey) AS supp
        |      FROM obs o JOIN m ON o.l_partkey = m.l_partkey
        |        AND o.price_cents = m.min_cents
        |      GROUP BY o.l_partkey, o.price_cents)
        |SELECT a.l_partkey, a.min_cents, a.supp, s.s_name
        |FROM a JOIN supplier s ON a.supp = s.s_suppkey
        |ORDER BY min_cents DESC, l_partkey
        |LIMIT 100""".stripMargin,

    // explicit grouping sets with an engine-neutral grouping id
    "q_grouping_sets" ->
      """SELECT event_type, user_id % 10 AS cohort,
        |  CAST(grouping(event_type) * 2 + grouping(user_id % 10) AS INT)
        |    AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), ())
        |ORDER BY gid, event_type, cohort""".stripMargin,

    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS session_cents
        |FROM s
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q_scd2" ->
      """SELECT user_id, event_type, event_id, round(value, 6) AS value,
        |  ts AS valid_from,
        |  lead(ts) OVER w AS valid_to,
        |  CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |ORDER BY user_id, event_type, valid_from, event_id""".stripMargin,

    "q_funnel" ->
      """SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts,
        |  min(CASE WHEN event_type = 'click' THEN ts END) AS click_ts,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase_ts,
        |  CASE WHEN min(CASE WHEN event_type = 'signup' THEN ts END) IS NOT NULL
        |        AND min(CASE WHEN event_type = 'click' THEN ts END) IS NOT NULL
        |        AND min(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
        |        AND min(CASE WHEN event_type = 'signup' THEN ts END)
        |            < min(CASE WHEN event_type = 'click' THEN ts END)
        |        AND min(CASE WHEN event_type = 'click' THEN ts END)
        |            < min(CASE WHEN event_type = 'purchase' THEN ts END)
        |       THEN 1 ELSE 0 END AS converted
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // q_asof_* tie contract: DuckDB's ASOF JOIN picks an UNSPECIFIED right
    // row at exact-ts ties, so these oracles assume the right (purchase)
    // side has at most one row per (user_id, ts) — asserted in AsOfSpec;
    // see graft.ops.AsOf's scaladoc before editing the events fixture
    "q_asof_join" ->
      """WITH c AS (SELECT user_id, ts, event_id, round(value, 6) AS click_value
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, round(value, 6) AS last_purchase
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.ts, c.event_id, c.click_value, p.last_purchase
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.user_id, c.ts, c.event_id""".stripMargin,

    "q_asof_forward" ->
      """WITH c AS (SELECT user_id, ts, event_id, round(value, 6) AS click_value
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, round(value, 6) AS next_purchase
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.ts, c.event_id, c.click_value, p.next_purchase
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.user_id, c.ts, c.event_id""".stripMargin,

    "q_asof_tolerance" ->
      """WITH c AS (SELECT user_id, ts, event_id, round(value, 6) AS click_value
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, round(value, 6) AS last_purchase
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.ts, c.event_id, c.click_value,
        |  CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 3600000000
        |       THEN p.last_purchase END AS last_purchase,
        |  CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 3600000000
        |       THEN epoch_us(c.ts) - epoch_us(p.ts) END AS match_age_us
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.user_id, c.ts, c.event_id""".stripMargin,

    "q_range_join" ->
      """WITH c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, click_id, purchase_id, click_ts, purchase_ts
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND abs(epoch_us(click_ts) - epoch_us(purchase_ts)) <= 300000000
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin,

    "q_set_ops" ->
      """WITH c AS (SELECT user_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id FROM events WHERE event_type = 'purchase')
        |SELECT user_id, relation FROM (
        |  SELECT user_id, 'click_and_purchase' AS relation
        |  FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
        |  UNION ALL
        |  SELECT user_id, 'click_only'
        |  FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
        |  UNION ALL
        |  SELECT user_id, 'click_or_purchase'
        |  FROM (SELECT user_id FROM c UNION SELECT user_id FROM p))
        |ORDER BY relation, user_id""".stripMargin,

    "q_correlated" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
        |FROM orders o
        |WHERE o_totalprice > (SELECT round(avg(o2.o_totalprice) * 1.5, 4)
        |                      FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_sql_api" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 4) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q_unpivot" ->
      """SELECT p_partkey, metric, round(metric_value, 6) AS metric_value
        |FROM (
        |  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS metric_value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'retailprice', p_retailprice FROM part)
        |ORDER BY p_partkey, metric""".stripMargin,

    "q_window_funcs" ->
      """SELECT user_id, event_id,
        |  round(lead(value) OVER w, 6) AS next_value,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "q_scalar_pack2" ->
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '#') AS padded,
        |  reverse(p_type) AS reversed,
        |  replace(p_brand, '#', '_') AS translated,
        |  p_brand || '|' || p_brand AS doubled,
        |  levenshtein(p_type, 'PROMO BURNISHED STEEL') AS edit_dist,
        |  list_aggregate(list_transform(string_split(lower(p_type), ' '),
        |    x -> upper(x[1]) || x[2:]), 'string_agg', ' ') AS title_type
        |FROM part
        |ORDER BY p_partkey""".stripMargin,

    "q_datetime_pack" ->
      """SELECT event_id,
        |  CAST(year(ts) AS INTEGER) AS y,
        |  CAST(month(ts) AS INTEGER) AS m,
        |  CAST(day(ts) AS INTEGER) AS d,
        |  CAST(hour(ts) AS INTEGER) AS h,
        |  CAST(isodow(ts) AS INTEGER) AS iso_dow,
        |  CAST(weekofyear(ts) AS INTEGER) AS iso_week,
        |  CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
        |  CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q_supplier_region" ->
      """SELECT r_name, count(*) AS n_suppliers,
        |  round(sum(s_acctbal), 4) AS total_bal,
        |  round(avg(s_acctbal), 6) AS avg_bal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin,

    "q_cube_stats" ->
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |  count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars,
        |  CAST(GROUPING(lang, source) AS INTEGER) AS gid
        |FROM documents GROUP BY CUBE(lang, source)
        |ORDER BY gid, lang, source""".stripMargin,

    "q_merge_apply" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |ch0 AS (
        |  SELECT k, status, cents,
        |    CASE WHEN k % 7 = 0 THEN 'U'
        |         WHEN k % 11 = 0 THEN 'D'
        |         WHEN k % 13 = 0 THEN 'I' END AS op
        |  FROM base),
        |changes AS (
        |  SELECT CASE WHEN op = 'I' THEN k + 10000000 ELSE k END AS k,
        |    CASE WHEN op = 'U' THEN 'X' ELSE status END AS c_status,
        |    CASE WHEN op = 'U' THEN cents + 100000 ELSE cents END AS c_cents,
        |    op
        |  FROM ch0 WHERE op IS NOT NULL)
        |SELECT coalesce(b.k, c.k) AS k,
        |  CASE WHEN c.op IS NOT NULL THEN c.c_status ELSE b.status END AS status,
        |  CASE WHEN c.op IS NOT NULL THEN c.c_cents ELSE b.cents END AS cents
        |FROM base b FULL OUTER JOIN changes c ON b.k = c.k
        |WHERE c.op IS NULL OR c.op <> 'D'
        |ORDER BY k""".stripMargin,

    "q_rollup_stats" ->
      """SELECT coalesce(r_name, 'ALL') AS region,
        |  coalesce(n_name, 'ALL') AS nation,
        |  count(*) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents,
        |  CAST(GROUPING(r_name, n_name) AS INTEGER) AS gid
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY gid, region, nation""".stripMargin,

    "q_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // bracket-style sketch oracles: the hashed columns are exact values
    // (DuckDB-reproducible) + 0/1 flags the Spark side DERIVES from the
    // sketch estimates (within published error envelopes) — so the gate
    // still exercises the sketches without hashing engine-specific buffers
    "q_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  count(DISTINCT value) AS exact_values,
        |  CAST(1 AS BIGINT) AS approx_users_ok,
        |  CAST(1 AS BIGINT) AS approx_values_ok
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // mergeable log-bucket quantile sketch: exact integer octave /
    // sub-bucket arithmetic (length(bin(c)), shifts, integer div) so
    // both engines compute identical buckets; exact rank quantile as
    // the verification side; output all BIGINTs + certificate flag
    "q_quantile_sketch" ->
      """WITH base AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE round(value * 100) >= 1),
        |hist AS (
        |  SELECT event_type, e * 8 + subb AS bucket, p2, subb,
        |    count(*) AS cnt
        |  FROM (SELECT event_type, c, e, (CAST(1 AS BIGINT) << CAST(e AS INTEGER)) AS p2,
        |          ((c - (CAST(1 AS BIGINT) << CAST(e AS INTEGER))) * 8)
        |            // (CAST(1 AS BIGINT) << CAST(e AS INTEGER)) AS subb
        |        FROM (SELECT event_type, c,
        |                CAST(length(bin(c)) - 1 AS BIGINT) AS e FROM base))
        |  GROUP BY 1, 2, 3, 4),
        |cum AS (
        |  SELECT event_type, bucket,
        |    p2 + (subb * p2) // 8 AS lo_cents,
        |    p2 + ((subb + 1) * p2) // 8 AS hi_cents,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM hist),
        |vcum AS (
        |  SELECT event_type, c,
        |    CAST(sum(vc) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vcum
        |  FROM (SELECT event_type, c, count(*) AS vc FROM base GROUP BY 1, 2)),
        |qs AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS q),
        |picked AS (
        |  SELECT event_type, q, n, (n * q + 99) // 100 AS target,
        |    min(bucket) AS bucket,
        |    min_by(lo_cents, bucket) AS lo_cents,
        |    min_by(hi_cents, bucket) AS hi_cents
        |  FROM cum CROSS JOIN qs
        |  WHERE cum >= (n * q + 99) // 100
        |  GROUP BY 1, 2, 3, 4),
        |ex AS (
        |  SELECT p.event_type, p.q, min(v.c) AS exact_cents
        |  FROM picked p JOIN vcum v
        |    ON v.event_type = p.event_type AND v.vcum >= p.target
        |  GROUP BY 1, 2)
        |SELECT p.event_type, p.q, p.n, p.bucket, p.lo_cents, p.hi_cents,
        |  ex.exact_cents,
        |  CAST(CASE WHEN ex.exact_cents BETWEEN p.lo_cents AND p.hi_cents
        |       THEN 1 ELSE 0 END AS BIGINT) AS within_ok
        |FROM picked p JOIN ex USING (event_type, q)
        |ORDER BY event_type, q""".stripMargin,

    "q_sketch_merge" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  CAST(1 AS BIGINT) AS merge_lossless,
        |  CAST(1 AS BIGINT) AS users_within_rse,
        |  CAST(1 AS BIGINT) AS p50_in_bracket,
        |  CAST(1 AS BIGINT) AS p99_in_bracket
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |cnts AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term)
        |SELECT term, cnt, CAST(1 AS BIGINT) AS sketch_agrees
        |FROM cnts
        |ORDER BY cnt DESC, term
        |LIMIT 20""".stripMargin,

    // full replay of the d=4 × w=64 count-min matrix over word bigrams:
    // same md5 bucket scheme, cell counts, min-over-rows probe
    "q_countmin" ->
      """WITH tok AS (
        |  SELECT w[i] || ' ' || w[i + 1] AS term
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents),
        |       LATERAL (SELECT unnest(range(1, len(w))) AS i)),
        |b AS (SELECT term,
        |        i, ('0x' || substr(md5('cm' || i || '|' || term), 1, 8))::BIGINT % 64 AS bucket
        |      FROM tok, range(4) r(i)),
        |cells AS (SELECT i, bucket, count(*) AS cnt FROM b GROUP BY i, bucket),
        |exact AS (SELECT term, count(*) AS exact_cnt FROM tok GROUP BY term
        |          ORDER BY exact_cnt DESC, term LIMIT 20),
        |probe AS (SELECT e.term, e.exact_cnt, i,
        |            ('0x' || substr(md5('cm' || i || '|' || e.term), 1, 8))::BIGINT % 64 AS bucket
        |          FROM exact e, range(4) r(i))
        |SELECT p.term, p.exact_cnt, min(c.cnt) AS cm_est,
        |       min(c.cnt) - p.exact_cnt AS overcount
        |FROM probe p JOIN cells c ON p.i = c.i AND p.bucket = c.bucket
        |GROUP BY p.term, p.exact_cnt
        |ORDER BY p.exact_cnt DESC, p.term""".stripMargin,

    // three unrolled synchronous majority-LPA rounds; ties break to the
    // smallest label (row_number ORDER BY votes DESC, lbl)
    "q_label_prop" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |bi AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM bi),
        |r1 AS (SELECT node, lbl FROM (
        |  SELECT src AS node, lbl,
        |         row_number() OVER (PARTITION BY src ORDER BY v DESC, lbl) AS rn
        |  FROM (SELECT bi.src, l.lbl, count(*) AS v
        |        FROM bi JOIN l0 l ON bi.dst = l.node GROUP BY bi.src, l.lbl))
        |  WHERE rn = 1),
        |r2 AS (SELECT node, lbl FROM (
        |  SELECT src AS node, lbl,
        |         row_number() OVER (PARTITION BY src ORDER BY v DESC, lbl) AS rn
        |  FROM (SELECT bi.src, l.lbl, count(*) AS v
        |        FROM bi JOIN r1 l ON bi.dst = l.node GROUP BY bi.src, l.lbl))
        |  WHERE rn = 1),
        |r3 AS (SELECT node, lbl FROM (
        |  SELECT src AS node, lbl,
        |         row_number() OVER (PARTITION BY src ORDER BY v DESC, lbl) AS rn
        |  FROM (SELECT bi.src, l.lbl, count(*) AS v
        |        FROM bi JOIN r2 l ON bi.dst = l.node GROUP BY bi.src, l.lbl))
        |  WHERE rn = 1)
        |SELECT node, lbl AS community FROM r3 ORDER BY node""".stripMargin,

    // each check row replayed as a scalar-subquery SELECT; "check" is
    // quoted (DuckDB keyword) but lands as the same column name
    "q_dq_checks" ->
      """SELECT * FROM (
        |SELECT 'orders.o_totalprice.complete' AS "check",
        |  (SELECT count(*) FROM orders) AS n_checked,
        |  (SELECT CAST(coalesce(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders) AS n_violations
        |UNION ALL
        |SELECT 'orders.o_totalprice.positive',
        |  (SELECT count(*) FROM orders),
        |  (SELECT CAST(coalesce(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders)
        |UNION ALL
        |SELECT 'orders.o_orderdate.complete',
        |  (SELECT count(*) FROM orders),
        |  (SELECT CAST(coalesce(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders)
        |UNION ALL
        |SELECT 'lineitem.l_discount.in_range_0_0.1',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT CAST(coalesce(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem)
        |UNION ALL
        |SELECT 'lineitem.l_quantity.positive',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT CAST(coalesce(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem)
        |UNION ALL
        |SELECT 'lineitem.l_extendedprice.complete',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT CAST(coalesce(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem)
        |UNION ALL
        |SELECT 'orders.o_orderkey.unique',
        |  (SELECT count(*) FROM (SELECT 1 FROM orders GROUP BY o_orderkey)),
        |  (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
        |     (SELECT count(*) AS c FROM orders GROUP BY o_orderkey) WHERE c > 1)
        |UNION ALL
        |SELECT 'lineitem.(l_orderkey,l_linenumber).unique',
        |  (SELECT count(*) FROM (SELECT 1 FROM lineitem GROUP BY l_orderkey, l_linenumber)),
        |  (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
        |     (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber) WHERE c > 1)
        |UNION ALL
        |SELECT 'orders.o_custkey.refers.customer',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |     (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |UNION ALL
        |SELECT 'lineitem.l_orderkey.refers.orders',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |     (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |UNION ALL
        |SELECT 'lineitem.l_shipdate.gte.o_orderdate',
        |  (SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |  (SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |   WHERE l_shipdate < o_orderdate)
        |) ORDER BY "check"""".stripMargin,

    // threshold-level confusion matrix of classifier keep vs Gopher label
    "q_confusion" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','and','of','to','in'))) AS BIGINT) AS s,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |         AS BIGINT) AS p
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, CASE WHEN -1000 * n * nc + 4000 * s * nc
        |      + 300 * (nc - n + 1) * nc - 8000 * p * n + 2 * n * n * nc > 0
        |    THEN 1 ELSE 0 END AS keep
        |  FROM f),
        |lab AS (
        |  SELECT doc_id, CAST((len(t) BETWEEN 50 AND 100000) AND
        |    ((length(text) - (len(t) - 1)) BETWEEN 3 * len(t) AND 10 * len(t)) AND
        |    (len(list_intersect(t, ['the','a','and','of','to','in'])) >= 2) AND
        |    (5 * len(list_distinct(t)) >= len(t)) AS BIGINT) AS y
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)),
        |m AS (SELECT
        |  CAST(sum(CASE WHEN keep = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(sum(CASE WHEN keep = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(sum(CASE WHEN keep = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |  CAST(sum(CASE WHEN keep = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM q JOIN lab USING (doc_id))
        |SELECT tp, fp, fn, tn,
        |  CAST(round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) * 1e6)
        |    AS BIGINT) AS precision_q6,
        |  CAST(round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) * 1e6)
        |    AS BIGINT) AS recall_q6,
        |  CAST(round(CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
        |    * 1e6) AS BIGINT) AS f1_q6
        |FROM m""".stripMargin,

    // cumulative recall@10 vs probe budget (own bucket + bit flips in
    // order); covered-at-probe from the per-hit differing-bit position
    "q_probe_sweep" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(e AS DOUBLE) AS e, i FROM (
        |    SELECT vec_id, unnest(embedding) AS e,
        |      generate_subscripts(embedding, 1) AS i
        |    FROM embeddings)),
        |dots AS (
        |  SELECT vec_id, p,
        |    sum((strpos('0123456789abcdef',
        |           substr(md5('hp|' || CAST(i AS VARCHAR)), CAST(p AS INTEGER), 1)) - 8.5) * e) AS dot
        |  FROM comp, (SELECT unnest(range(1, 9)) AS p) planes
        |  GROUP BY vec_id, p),
        |sig AS MATERIALIZED (
        |  SELECT vec_id,
        |    string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
        |  FROM dots GROUP BY vec_id),
        |q AS (SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qv,
        |        s.sig AS qsig
        |      FROM embeddings e JOIN sig s ON e.vec_id = s.vec_id
        |      WHERE e.vec_id < 8),
        |top AS (SELECT query_id, sig, qsig FROM (
        |  SELECT q.query_id, s.sig, q.qsig,
        |    row_number() OVER (PARTITION BY q.query_id ORDER BY
        |      round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) DESC,
        |      e.vec_id) AS rnk
        |  FROM embeddings e JOIN sig s ON e.vec_id = s.vec_id
        |  CROSS JOIN q WHERE e.vec_id >= 8) WHERE rnk <= 10),
        |cov AS (SELECT query_id,
        |    CASE WHEN sig = qsig THEN 0
        |    WHEN len(list_filter(range(1, 9),
        |        p -> substr(sig, CAST(p AS INTEGER), 1) <> substr(qsig, CAST(p AS INTEGER), 1))) = 1
        |    THEN list_filter(range(1, 9),
        |        p -> substr(sig, CAST(p AS INTEGER), 1) <> substr(qsig, CAST(p AS INTEGER), 1))[1]
        |    ELSE NULL END AS cover
        |  FROM top)
        |SELECT g.n_flips + 1 AS n_probes,
        |  CAST(count(cov.cover) AS BIGINT) AS hits_total,
        |  round(count(cov.cover) / 80.0, 6) AS mean_recall
        |FROM (SELECT unnest(range(0, 9)) AS n_flips) g
        |LEFT JOIN cov ON cov.cover <= g.n_flips
        |GROUP BY g.n_flips
        |ORDER BY n_probes""".stripMargin,

    // Kish effective sample size of the alpha=0.5 tempered mixture
    "q_ess" ->
      """WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
        |r AS (SELECT n_src,
        |        CAST(round(sqrt(CAST((SELECT min(n_src) FROM c) AS DOUBLE)
        |          / CAST(n_src AS DOUBLE)) * 1000000) AS BIGINT) AS qw
        |      FROM c),
        |m AS (SELECT CAST(sum(n_src) AS BIGINT) AS n_docs,
        |        count(*) AS n_sources,
        |        CAST(sum(n_src * qw) AS BIGINT) AS s1,
        |        CAST(sum(n_src * qw * qw) AS BIGINT) AS s2
        |      FROM r)
        |SELECT n_docs, n_sources,
        |  round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(s2 AS DOUBLE), 2)
        |    AS ess,
        |  round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(s2 AS DOUBLE)
        |    / CAST(n_docs AS DOUBLE), 6) AS ess_ratio
        |FROM m""".stripMargin,

    // prep-funnel accounting: raw -> gopher rules -> exact dedup
    "q_prep_funnel" ->
      """WITH lab AS (
        |  SELECT doc_id, text, ((len(t) BETWEEN 50 AND 100000) AND
        |    ((length(text) - (len(t) - 1)) BETWEEN 3 * len(t) AND 10 * len(t)) AND
        |    (len(list_intersect(t, ['the','a','and','of','to','in'])) >= 2) AND
        |    (5 * len(list_distinct(t)) >= len(t))) AS keep
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)),
        |m AS (SELECT count(*) AS n_raw,
        |        CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_rules,
        |        count(DISTINCT CASE WHEN keep THEN md5(text) END) AS n_dedup
        |      FROM lab)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage, 'raw' AS name, n_raw AS n_docs,
        |    CAST(0 AS BIGINT) AS n_dropped, 0.0 AS drop_rate FROM m
        |  UNION ALL
        |  SELECT 2, 'gopher_rules', n_rules, n_raw - n_rules,
        |    round(CAST(n_raw - n_rules AS DOUBLE) / CAST(n_raw AS DOUBLE), 6) FROM m
        |  UNION ALL
        |  SELECT 3, 'exact_dedup', n_dedup, n_rules - n_dedup,
        |    round(CAST(n_rules - n_dedup AS DOUBLE) / CAST(n_rules AS DOUBLE), 6) FROM m
        |) ORDER BY stage""".stripMargin,

    // tau sweep over the candidate-verified Jaccard pairs
    "q_dedup_sweep" ->
      s"""WITH $shingleCte,
         |$minhashSigSql,
         |bands AS (
         |  SELECT doc_id, 0 AS band_idx, md5(h0||'|'||h1||'|'||h2) AS band_hash FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h3||'|'||h4||'|'||h5) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h6||'|'||h7||'|'||h8) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h9||'|'||h10||'|'||h11) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx
         |    AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS ix FROM cand c
         |  JOIN sh a ON a.doc_id = c.id_a
         |  JOIN sh b ON b.doc_id = c.id_b AND a.s = b.s
         |  GROUP BY 1, 2),
         |pairs AS (SELECT i.id_a, i.id_b,
         |    round(CAST(i.ix AS DOUBLE) / (ca.c + cb.c - i.ix), 6) AS jac
         |  FROM inter i JOIN card ca ON ca.doc_id = i.id_a
         |  JOIN card cb ON cb.doc_id = i.id_b)
         |SELECT CAST(round(0.5 + g.k * 0.05, 2) AS DOUBLE) AS tau,
         |  CAST(count(p.jac) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT p.id_b) AS BIGINT) AS n_removable
         |FROM (SELECT unnest(range(0, 10)) AS k) g
         |LEFT JOIN pairs p ON p.jac >= 0.5 + g.k * 0.05
         |GROUP BY g.k
         |ORDER BY tau""".stripMargin,

    // minhash estimate vs exact Jaccard on the LSH candidate pairs
    "q_minhash_acc" -> {
      val matchSql = (0 until Dedup.MinhashK)
        .map(k => s"(CASE WHEN sa.h$k = sb.h$k THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $shingleCte,
         |$minhashSigSql,
         |bands AS (
         |  SELECT doc_id, 0 AS band_idx, md5(h0||'|'||h1||'|'||h2) AS band_hash FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h3||'|'||h4||'|'||h5) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h6||'|'||h7||'|'||h8) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h9||'|'||h10||'|'||h11) FROM sig),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands
         |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx
         |    AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS ix FROM cand c
         |  JOIN sh a ON a.doc_id = c.id_a
         |  JOIN sh b ON b.doc_id = c.id_b AND a.s = b.s
         |  GROUP BY 1, 2),
         |est AS (SELECT c.id_a, c.id_b, c.n_bands,
         |    CAST($matchSql AS BIGINT) AS n_match
         |  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
         |  JOIN sig sb ON sb.doc_id = c.id_b)
         |SELECT e.id_a, e.id_b, e.n_bands, e.n_match,
         |  round(e.n_match / 12.0, 6) AS mh_est,
         |  round(CAST(i.ix AS DOUBLE) / (ca.c + cb.c - i.ix), 6) AS jac,
         |  round(abs(round(e.n_match / 12.0, 6)
         |    - round(CAST(i.ix AS DOUBLE) / (ca.c + cb.c - i.ix), 6)), 6) AS err
         |FROM est e JOIN inter i ON e.id_a = i.id_a AND e.id_b = i.id_b
         |JOIN card ca ON ca.doc_id = e.id_a
         |JOIN card cb ON cb.doc_id = e.id_b
         |ORDER BY e.id_a, e.id_b""".stripMargin
    },

    "q_dup_by_source" ->
      """WITH fp AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
        |g AS (SELECT fp, count(*) AS grp FROM fp GROUP BY fp)
        |SELECT source, count(*) AS n_docs,
        |  count(DISTINCT f.fp) AS n_distinct,
        |  CAST(sum(CASE WHEN g.grp > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_in_dup_groups,
        |  round(CAST(sum(CASE WHEN g.grp > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS dup_rate
        |FROM fp f JOIN g USING (fp)
        |GROUP BY source ORDER BY source""".stripMargin,

    // multi-probe LSH: query bucket + 8 Hamming-1 buckets, recall vs
    // the same exact top-10 as q_lsh_recall
    "q_multiprobe" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(e AS DOUBLE) AS e, i FROM (
        |    SELECT vec_id, unnest(embedding) AS e,
        |      generate_subscripts(embedding, 1) AS i
        |    FROM embeddings)),
        |dots AS (
        |  SELECT vec_id, p,
        |    sum((strpos('0123456789abcdef',
        |           substr(md5('hp|' || CAST(i AS VARCHAR)), CAST(p AS INTEGER), 1)) - 8.5) * e) AS dot
        |  FROM comp, (SELECT unnest(range(1, 9)) AS p) planes
        |  GROUP BY vec_id, p),
        |sig AS MATERIALIZED (
        |  SELECT vec_id,
        |    string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
        |  FROM dots GROUP BY vec_id),
        |q AS (SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qv,
        |        s.sig AS qsig
        |      FROM embeddings e JOIN sig s ON e.vec_id = s.vec_id
        |      WHERE e.vec_id < 8),
        |probes AS MATERIALIZED (
        |  SELECT query_id, qsig AS probe FROM q
        |  UNION ALL
        |  SELECT query_id,
        |    substr(qsig, 1, CAST(p - 1 AS INTEGER))
        |      || (CASE WHEN substr(qsig, CAST(p AS INTEGER), 1) = '1'
        |            THEN '0' ELSE '1' END)
        |      || substr(qsig, CAST(p + 1 AS INTEGER), CAST(8 - p AS INTEGER))
        |  FROM q, (SELECT unnest(range(1, 9)) AS p) r),
        |nc AS (SELECT pr.query_id, count(*) AS n_candidates
        |       FROM sig s JOIN probes pr ON s.sig = pr.probe
        |       WHERE s.vec_id >= 8 GROUP BY pr.query_id),
        |top AS (SELECT query_id, vec_id, sig FROM (
        |  SELECT q.query_id, e.vec_id, s.sig,
        |    row_number() OVER (PARTITION BY q.query_id ORDER BY
        |      round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) DESC,
        |      e.vec_id) AS rnk
        |  FROM embeddings e JOIN sig s ON e.vec_id = s.vec_id
        |  CROSS JOIN q WHERE e.vec_id >= 8) WHERE rnk <= 10),
        |h AS (SELECT t.query_id, count(*) AS hits
        |      FROM top t JOIN probes pr
        |        ON t.query_id = pr.query_id AND t.sig = pr.probe
        |      GROUP BY t.query_id)
        |SELECT q.query_id,
        |  CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
        |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  round(coalesce(h.hits, 0) / 10.0, 6) AS recall
        |FROM q LEFT JOIN nc USING (query_id) LEFT JOIN h USING (query_id)
        |ORDER BY q.query_id""".stripMargin,

    // NDCG@10 of the LSH arm vs exact top-10; integer DCG over the
    // baked discount table, IDCG = 29966114 (Σ (11-p)·d_p)
    "q_ndcg" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(e AS DOUBLE) AS e, i FROM (
        |    SELECT vec_id, unnest(embedding) AS e,
        |      generate_subscripts(embedding, 1) AS i
        |    FROM embeddings)),
        |dots AS (
        |  SELECT vec_id, p,
        |    sum((strpos('0123456789abcdef',
        |           substr(md5('hp|' || CAST(i AS VARCHAR)), CAST(p AS INTEGER), 1)) - 8.5) * e) AS dot
        |  FROM comp, (SELECT unnest(range(1, 9)) AS p) planes
        |  GROUP BY vec_id, p),
        |sig AS MATERIALIZED (
        |  SELECT vec_id,
        |    string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
        |  FROM dots GROUP BY vec_id),
        |q AS (SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qv,
        |        s.sig AS qsig
        |      FROM embeddings e JOIN sig s ON e.vec_id = s.vec_id
        |      WHERE e.vec_id < 8),
        |scored AS MATERIALIZED (
        |  SELECT q.query_id, q.qsig, e.vec_id, s.sig,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
        |      AS cos
        |  FROM embeddings e JOIN sig s ON e.vec_id = s.vec_id
        |  CROSS JOIN q WHERE e.vec_id >= 8),
        |rel AS (SELECT query_id, vec_id, CAST(11 - r AS BIGINT) AS rel FROM (
        |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, vec_id) AS r FROM scored) WHERE r <= 10),
        |sys AS (SELECT query_id, vec_id,
        |    ([1000000,630930,500000,430677,386853,356207,333333,315465,301030,289065])[CAST(pos AS INTEGER)] AS d
        |  FROM (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |          ORDER BY cos DESC, vec_id) AS pos
        |        FROM scored WHERE sig = qsig)
        |  WHERE pos <= 10),
        |perq AS (SELECT s.query_id, count(*) AS n_ranked,
        |    CAST(coalesce(sum(coalesce(r.rel, 0) * s.d), 0) AS BIGINT) AS dcg_q
        |  FROM sys s LEFT JOIN rel r
        |    ON s.query_id = r.query_id AND s.vec_id = r.vec_id
        |  GROUP BY s.query_id)
        |SELECT q.query_id,
        |  CAST(coalesce(p.n_ranked, 0) AS BIGINT) AS n_ranked,
        |  CAST(coalesce(p.dcg_q, 0) AS BIGINT) AS dcg_q,
        |  round(CAST(coalesce(p.dcg_q, 0) AS DOUBLE) / 29966114.0, 6) AS ndcg
        |FROM q LEFT JOIN perq p USING (query_id)
        |ORDER BY query_id""".stripMargin,

    // MI/chi2 over the (event_type x value-bucket) contingency table;
    // per-cell float terms quantized to integers before summation
    "q_mutual_info" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(floor(value / 10) AS BIGINT) AS vbucket FROM events),
        |cells AS (SELECT event_type, vbucket, count(*) AS nxy
        |          FROM ev GROUP BY event_type, vbucket),
        |m AS (SELECT nxy,
        |        sum(nxy) OVER (PARTITION BY event_type) AS nx,
        |        sum(nxy) OVER (PARTITION BY vbucket) AS ny,
        |        sum(nxy) OVER () AS n
        |      FROM cells),
        |t AS (SELECT nxy, n,
        |  nxy * CAST(round(ln((CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE))
        |      / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))) * 1000000000)
        |    AS BIGINT) AS mi_q,
        |  CAST(round((CAST(nxy AS DOUBLE)
        |        - (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)) / CAST(n AS DOUBLE))
        |      * (CAST(nxy AS DOUBLE)
        |        - (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)) / CAST(n AS DOUBLE))
        |      / ((CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)) / CAST(n AS DOUBLE))
        |      * 1000000) AS BIGINT) AS chi_q
        |  FROM m)
        |SELECT count(*) AS n_cells, CAST(max(n) AS BIGINT) AS n_events,
        |  round(CAST(CAST(sum(mi_q) AS BIGINT) AS DOUBLE)
        |    / CAST(max(n) AS DOUBLE) / 1000000000, 6) AS mi_nats,
        |  round(CAST(CAST(sum(chi_q) AS BIGINT) AS DOUBLE) / 1000000, 6) AS chi2
        |FROM t""".stripMargin,

    // PR curve at every distinct score cut: integer cumsums over the
    // per-score aggregate (ties share one cut row)
    "q_pr_curve" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','and','of','to','in'))) AS BIGINT) AS s,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |         AS BIGINT) AS p
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    CAST(round(CAST(-1000 * n * nc + 4000 * s * nc + 300 * (nc - n + 1) * nc
        |         - 8000 * p * n + 2 * n * n * nc AS DOUBLE)
        |      / CAST(1000 * n * nc AS DOUBLE) * 1e6) AS BIGINT) AS score
        |  FROM f),
        |lab AS (
        |  SELECT doc_id, CAST((len(t) BETWEEN 50 AND 100000) AND
        |    ((length(text) - (len(t) - 1)) BETWEEN 3 * len(t) AND 10 * len(t)) AND
        |    (len(list_intersect(t, ['the','a','and','of','to','in'])) >= 2) AND
        |    (5 * len(list_distinct(t)) >= len(t)) AS BIGINT) AS y
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)),
        |ps AS (SELECT q.score, count(*) AS n, CAST(sum(lab.y) AS BIGINT) AS pos
        |       FROM q JOIN lab USING (doc_id) GROUP BY q.score),
        |c AS (SELECT score,
        |        CAST(sum(pos) OVER w AS BIGINT) AS tp,
        |        CAST(sum(n) OVER w AS BIGINT) AS kept,
        |        CAST(sum(pos) OVER () AS BIGINT) AS npos
        |      FROM ps WINDOW w AS (ORDER BY score DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT score AS score_cut_q6, tp, kept - tp AS fp, npos - tp AS fn,
        |  CAST(round(CAST(tp AS DOUBLE) / CAST(kept AS DOUBLE) * 1e6)
        |    AS BIGINT) AS precision_q6,
        |  CAST(round(CAST(tp AS DOUBLE) / CAST(npos AS DOUBLE) * 1e6)
        |    AS BIGINT) AS recall_q6,
        |  CAST(round(CAST(2 * tp AS DOUBLE) / CAST(kept + npos AS DOUBLE) * 1e6)
        |    AS BIGINT) AS f1_q6
        |FROM c ORDER BY score_cut_q6 DESC""".stripMargin,

    // per-decile positive rate; deciles over the deterministic
    // (score, doc_id) order, mean score from 1e-6-quantized BIGINT sums
    "q_calibration" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','and','of','to','in'))) AS BIGINT) AS s,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |         AS BIGINT) AS p
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    CAST(round(CAST(-1000 * n * nc + 4000 * s * nc + 300 * (nc - n + 1) * nc
        |         - 8000 * p * n + 2 * n * n * nc AS DOUBLE)
        |      / CAST(1000 * n * nc AS DOUBLE) * 1e6) AS BIGINT) AS score
        |  FROM f),
        |lab AS (
        |  SELECT doc_id, CAST((len(t) BETWEEN 50 AND 100000) AND
        |    ((length(text) - (len(t) - 1)) BETWEEN 3 * len(t) AND 10 * len(t)) AND
        |    (len(list_intersect(t, ['the','a','and','of','to','in'])) >= 2) AND
        |    (5 * len(list_distinct(t)) >= len(t)) AS BIGINT) AS y
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)),
        |j AS (SELECT q.doc_id, q.score, lab.y,
        |        ntile(10) OVER (ORDER BY q.score, q.doc_id) AS decile
        |      FROM q JOIN lab USING (doc_id))
        |SELECT decile, count(*) AS n_docs, CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1e6)
        |    AS BIGINT) AS pos_rate_q6,
        |  CAST(round(CAST(sum(score) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |    AS BIGINT) AS mean_score_q6
        |FROM j GROUP BY decile ORDER BY decile""".stripMargin,

    // Isotonic (PAV) fit over the calibration deciles via the
    // max-min segment-mean closed form on the bounded decile lattice
    "q_isotonic" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','and','of','to','in'))) AS BIGINT) AS s,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |         AS BIGINT) AS p
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    CAST(round(CAST(-1000 * n * nc + 4000 * s * nc + 300 * (nc - n + 1) * nc
        |         - 8000 * p * n + 2 * n * n * nc AS DOUBLE)
        |      / CAST(1000 * n * nc AS DOUBLE) * 1e6) AS BIGINT) AS score
        |  FROM f),
        |lab AS (
        |  SELECT doc_id, CAST((len(t) BETWEEN 50 AND 100000) AND
        |    ((length(text) - (len(t) - 1)) BETWEEN 3 * len(t) AND 10 * len(t)) AND
        |    (len(list_intersect(t, ['the','a','and','of','to','in'])) >= 2) AND
        |    (5 * len(list_distinct(t)) >= len(t)) AS BIGINT) AS y
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)),
        |j AS (SELECT q.doc_id, q.score, lab.y,
        |        ntile(10) OVER (ORDER BY q.score, q.doc_id) AS decile
        |      FROM q JOIN lab USING (doc_id)),
        |cal AS (SELECT decile, count(*) AS n_docs,
        |          CAST(sum(y) AS BIGINT) AS n_pos
        |        FROM j GROUP BY decile),
        |pre AS (SELECT decile, n_docs, n_pos,
        |          CAST(sum(n_docs) OVER (ORDER BY decile) AS BIGINT) AS cn,
        |          CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cy
        |        FROM cal),
        |seg AS (SELECT a.decile AS a, b.decile AS b,
        |          CAST(b.cy - (a.cy - a.n_pos) AS DOUBLE)
        |            / CAST(b.cn - (a.cn - a.n_docs) AS DOUBLE) AS m
        |        FROM pre a JOIN pre b ON b.decile >= a.decile),
        |mins AS (SELECT i.decile AS decile, s.a, min(s.m) AS mm
        |         FROM pre i JOIN seg s
        |           ON s.a <= i.decile AND s.b >= i.decile
        |         GROUP BY 1, 2),
        |iso AS (SELECT decile, max(mm) AS iso_raw FROM mins GROUP BY 1),
        |r AS (SELECT p.decile, p.n_docs, p.n_pos,
        |        CAST(round(CAST(p.n_pos AS DOUBLE) / CAST(p.n_docs AS DOUBLE)
        |          * 1e6) AS BIGINT) AS pos_rate_q6,
        |        CAST(round(i.iso_raw * 1e6) AS BIGINT) AS iso_rate_q6
        |      FROM pre p JOIN iso i USING (decile))
        |SELECT decile, n_docs, n_pos, pos_rate_q6, iso_rate_q6,
        |  CASE WHEN lag(iso_rate_q6) OVER (ORDER BY decile) IS NULL
        |         OR iso_rate_q6 >= lag(iso_rate_q6) OVER (ORDER BY decile)
        |       THEN 1 ELSE 0 END AS monotone_ok
        |FROM r ORDER BY decile""".stripMargin,

    // exact Mann-Whitney midrank AUC (integer numerator): classifier
    // logit scored against the Gopher all-rules label
    "q_auc" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','and','of','to','in'))) AS BIGINT) AS s,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |         AS BIGINT) AS p
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    CAST(round(CAST(-1000 * n * nc + 4000 * s * nc + 300 * (nc - n + 1) * nc
        |         - 8000 * p * n + 2 * n * n * nc AS DOUBLE)
        |      / CAST(1000 * n * nc AS DOUBLE) * 1e6) AS BIGINT) AS score
        |  FROM f),
        |lab AS (
        |  SELECT doc_id, CAST((len(t) BETWEEN 50 AND 100000) AND
        |    ((length(text) - (len(t) - 1)) BETWEEN 3 * len(t) AND 10 * len(t)) AND
        |    (len(list_intersect(t, ['the','a','and','of','to','in'])) >= 2) AND
        |    (5 * len(list_distinct(t)) >= len(t)) AS BIGINT) AS y
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)),
        |j AS (SELECT q.score, lab.y FROM q JOIN lab USING (doc_id)),
        |r AS (SELECT y, 2 * rank() OVER (ORDER BY score)
        |        + count(*) OVER (PARTITION BY score) - 1 AS mid2 FROM j),
        |st AS (SELECT CAST(sum(CASE WHEN y = 1 THEN mid2 ELSE 0 END) AS BIGINT) AS pos2,
        |         CAST(sum(y) AS BIGINT) AS np, count(*) AS n FROM r)
        |SELECT np AS n_pos, n - np AS n_neg,
        |  CAST(round(CAST(pos2 - np * (np + 1) AS DOUBLE)
        |    / CAST(2 * np * (n - np) AS DOUBLE) * 1e6) AS BIGINT) AS auc_q6
        |FROM st""".stripMargin,

    // Zipf OLS on 1e-4-nat-quantized ln series: integer-exact moments,
    // identical final double divisions
    "q_zipf" ->
      """WITH tok AS (
        |  SELECT w[i] || ' ' || w[i + 1] AS term
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents),
        |       LATERAL (SELECT unnest(range(1, len(w))) AS i)),
        |tf AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
        |r AS (SELECT
        |  CAST(round(ln(CAST(row_number() OVER (ORDER BY cnt DESC, term) AS DOUBLE)) * 10000) AS BIGINT) AS x,
        |  CAST(round(ln(CAST(cnt AS DOUBLE)) * 10000) AS BIGINT) AS y
        |  FROM tf),
        |s AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |        CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx FROM r)
        |SELECT n AS n_types,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |        CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
        |  round(((CAST(sy AS DOUBLE) -
        |      (CAST(n * sxy - sx * sy AS DOUBLE) /
        |       CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE)) / 10000, 6) AS intercept_nats
        |FROM s""".stripMargin,

    // forecast-residual anomalies: same recursion, robust median/MAD
    // threshold via quantile_cont (matches Spark's exact percentile)
    "q_anomaly" ->
      """WITH RECURSIVE seq AS (
        |  SELECT event_type, event_id, CAST(value AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_id < 5000),
        |h AS (
        |  SELECT event_type, rn, event_id, x, x AS s, CAST(0 AS DOUBLE) AS b
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT seq.event_type, seq.rn, seq.event_id, seq.x,
        |         0.5 * seq.x + 0.5 * (h.s + h.b) AS s,
        |         0.3 * ((0.5 * seq.x + 0.5 * (h.s + h.b)) - h.s) + 0.7 * h.b AS b
        |  FROM h JOIN seq ON seq.event_type = h.event_type AND seq.rn = h.rn + 1),
        |resid AS (SELECT h.event_type, n2.x - (h.s + h.b) AS r
        |          FROM h JOIN seq n2
        |            ON n2.event_type = h.event_type AND n2.rn = h.rn + 1),
        |med AS (SELECT event_type, quantile_cont(r, 0.5) AS med
        |        FROM resid GROUP BY event_type),
        |mad AS (SELECT r.event_type, quantile_cont(abs(r.r - m.med), 0.5) AS mad
        |        FROM resid r JOIN med m USING (event_type)
        |        GROUP BY r.event_type)
        |SELECT r.event_type, count(*) AS n,
        |  round(min(m.med), 6) AS med_resid,
        |  round(min(d.mad), 6) AS mad_resid,
        |  CAST(sum(CASE WHEN abs(r.r - m.med) > 3.0 * d.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_anomalies,
        |  round(CAST(sum(CASE WHEN abs(r.r - m.med) > 3.0 * d.mad THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS anomaly_rate
        |FROM resid r JOIN med m USING (event_type) JOIN mad d USING (event_type)
        |GROUP BY r.event_type
        |ORDER BY r.event_type""".stripMargin,

    // Holt vs last-value-carried-forward, same recursion + both errors
    "q_forecast_compare" ->
      """WITH RECURSIVE seq AS (
        |  SELECT event_type, event_id, CAST(value AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_id < 5000),
        |h AS (
        |  SELECT event_type, rn, event_id, x, x AS s, CAST(0 AS DOUBLE) AS b
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT seq.event_type, seq.rn, seq.event_id, seq.x,
        |         0.5 * seq.x + 0.5 * (h.s + h.b) AS s,
        |         0.3 * ((0.5 * seq.x + 0.5 * (h.s + h.b)) - h.s) + 0.7 * h.b AS b
        |  FROM h JOIN seq ON seq.event_type = h.event_type AND seq.rn = h.rn + 1),
        |j AS (SELECT h.event_type,
        |        CAST(round((h.s + h.b - n2.x) * 1000) AS BIGINT) AS eh,
        |        CAST(round((h.x - n2.x) * 1000) AS BIGINT) AS el
        |      FROM h JOIN seq n2
        |        ON n2.event_type = h.event_type AND n2.rn = h.rn + 1),
        |m AS (SELECT event_type, count(*) AS n,
        |        CAST(sum(eh * eh) AS BIGINT) AS sseh,
        |        CAST(sum(el * el) AS BIGINT) AS ssel
        |      FROM j GROUP BY event_type)
        |SELECT event_type, n,
        |  round(sqrt(CAST(sseh AS DOUBLE) / CAST(n AS DOUBLE)) / 1000.0, 6)
        |    AS rmse_holt,
        |  round(sqrt(CAST(ssel AS DOUBLE) / CAST(n AS DOUBLE)) / 1000.0, 6)
        |    AS rmse_lvcf,
        |  CASE WHEN ssel = 0 THEN NULL
        |       ELSE round(1.0 - sqrt(CAST(sseh AS DOUBLE)
        |                             / CAST(ssel AS DOUBLE)), 6) END
        |    AS improvement
        |FROM m ORDER BY event_type""".stripMargin,

    // one-step Holt forecast MAE/RMSE: same recursion, errors quantized
    // to 1e-3 integers before the moment sums
    "q_forecast_eval" ->
      """WITH RECURSIVE seq AS (
        |  SELECT event_type, event_id, CAST(value AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_id < 5000),
        |h AS (
        |  SELECT event_type, rn, event_id, x AS s, CAST(0 AS DOUBLE) AS b
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT seq.event_type, seq.rn, seq.event_id,
        |         0.5 * seq.x + 0.5 * (h.s + h.b) AS s,
        |         0.3 * ((0.5 * seq.x + 0.5 * (h.s + h.b)) - h.s) + 0.7 * h.b AS b
        |  FROM h JOIN seq ON seq.event_type = h.event_type AND seq.rn = h.rn + 1),
        |j AS (SELECT h.event_type,
        |        CAST(round((h.s + h.b - n2.x) * 1000) AS BIGINT) AS err_q
        |      FROM h JOIN seq n2
        |        ON n2.event_type = h.event_type AND n2.rn = h.rn + 1)
        |SELECT event_type, count(*) AS n,
        |  round(CAST(CAST(sum(abs(err_q)) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1000.0, 6) AS mae,
        |  round(sqrt(CAST(CAST(sum(err_q * err_q) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE)) / 1000.0, 6) AS rmse
        |FROM j GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // Holt level+trend replayed as a recursive CTE; identical IEEE op
    // order on both engines, rounded 6dp; event_id slice bounds depth
    "q_holt" ->
      """WITH RECURSIVE seq AS (
        |  SELECT event_type, event_id, CAST(value AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_id < 5000),
        |h AS (
        |  SELECT event_type, rn, event_id, x AS s, CAST(0 AS DOUBLE) AS b
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT seq.event_type, seq.rn, seq.event_id,
        |         0.5 * seq.x + 0.5 * (h.s + h.b) AS s,
        |         0.3 * ((0.5 * seq.x + 0.5 * (h.s + h.b)) - h.s) + 0.7 * h.b AS b
        |  FROM h JOIN seq ON seq.event_type = h.event_type AND seq.rn = h.rn + 1)
        |SELECT event_id, event_type,
        |       CAST(round(s * 1e6) AS BIGINT) AS level_q6,
        |       CAST(round(b * 1e6) AS BIGINT) AS trend_q6,
        |       CAST(round((s + b) * 1e6) AS BIGINT) AS forecast_q6
        |FROM h ORDER BY event_type, event_id""".stripMargin,

    // CM-sketch join-size estimation: cell replay at d=4, w=16384;
    // estimate = min over rows of the cell-wise inner product
    "q_join_size" ->
      """WITH
        |ca AS (SELECT i, ('0x' || substr(md5('cm' || i || '|' || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % 16384 AS bucket,
        |         count(*) AS cnt
        |       FROM orders, range(4) r(i) GROUP BY 1, 2),
        |cb AS (SELECT i, ('0x' || substr(md5('cm' || i || '|' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 16384 AS bucket,
        |         count(*) AS cnt
        |       FROM customer, range(4) r(i) GROUP BY 1, 2),
        |cl AS (SELECT i, ('0x' || substr(md5('cm' || i || '|' || CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT % 16384 AS bucket,
        |         count(*) AS cnt
        |       FROM lineitem, range(4) r(i) GROUP BY 1, 2),
        |est1 AS (SELECT CAST(min(coalesce(ip, 0)) AS BIGINT) AS cm_est
        |  FROM range(4) sp(i) LEFT JOIN (
        |  SELECT ca.i AS j, sum(ca.cnt * cb.cnt) AS ip FROM ca
        |  JOIN cb ON ca.i = cb.i AND ca.bucket = cb.bucket GROUP BY ca.i) q
        |  ON q.j = sp.i),
        |ex1 AS (SELECT CAST(coalesce(sum(fa * fb), 0) AS BIGINT) AS exact_size FROM
        |        (SELECT o_custkey AS k, count(*) AS fa FROM orders GROUP BY 1) a JOIN
        |        (SELECT c_custkey AS k, count(*) AS fb FROM customer GROUP BY 1) b USING (k)),
        |est2 AS (SELECT CAST(min(coalesce(ip, 0)) AS BIGINT) AS cm_est
        |  FROM range(4) sp(i) LEFT JOIN (
        |  SELECT x.i AS j, sum(x.cnt * y.cnt) AS ip FROM cl x
        |  JOIN cl y ON x.i = y.i AND x.bucket = y.bucket GROUP BY x.i) q
        |  ON q.j = sp.i),
        |ex2 AS (SELECT CAST(coalesce(sum(fa * fa), 0) AS BIGINT) AS exact_size FROM
        |        (SELECT l_partkey, count(*) AS fa FROM lineitem GROUP BY 1))
        |SELECT * FROM (
        | SELECT 'orders_x_customer_custkey' AS measure, ex1.exact_size,
        |        est1.cm_est, est1.cm_est - ex1.exact_size AS overcount FROM ex1, est1
        | UNION ALL
        | SELECT 'lineitem_selfjoin_partkey_f2', ex2.exact_size,
        |        est2.cm_est, est2.cm_est - ex2.exact_size FROM ex2, est2
        |) ORDER BY measure""".stripMargin,

    "q_k_anon" ->
      """SELECT lang, (n_chars // 200) * 200 AS len_bucket,
        |  count(*) AS class_size,
        |  count(DISTINCT source) AS l_diversity,
        |  round(1.0 / count(*), 6) AS reident_risk,
        |  CAST(CASE WHEN count(*) < 10 THEN 1 ELSE 0 END AS BIGINT) AS at_risk_k,
        |  CAST(CASE WHEN count(DISTINCT source) < 2 THEN 1 ELSE 0 END AS BIGINT) AS at_risk_l
        |FROM documents
        |GROUP BY lang, (n_chars // 200) * 200
        |ORDER BY lang, len_bucket""".stripMargin,

    "q_semi_anti" ->
      """SELECT n_name AS nation, count(*) AS n_cust,
        |  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM orders o
        |        WHERE o.o_custkey = c.c_custkey
        |          AND o.o_orderpriority = '1-URGENT') THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_urgent_cust,
        |  CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
        |        WHERE o.o_custkey = c.c_custkey
        |          AND o.o_orderpriority = '1-URGENT') THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_no_urgent
        |FROM customer c JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q_series_collect" ->
      """SELECT event_type,
        |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY ts, event_id) AS series
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_envelope_roundtrip" ->
      """SELECT CAST(user_id AS VARCHAR) AS coin_id, event_type AS exchange,
        |  ts AS timestamp, round(value, 6) AS price,
        |  CAST(event_id AS DOUBLE) AS volume_24h,
        |  CAST(0.0 AS DOUBLE) AS percent_change_24h
        |FROM events
        |ORDER BY coin_id, timestamp, volume_24h""".stripMargin,

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM documents GROUP BY md5(text)
        |ORDER BY keep_id""".stripMargin,

    "q_dedup_jaccard" ->
      s"""WITH $shingleCte,
         |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       round(CAST(ix AS DOUBLE) / (ca.c + cb.c - ix), 6) AS jac
         |FROM inter
         |JOIN card ca ON ca.doc_id = id_a
         |JOIN card cb ON cb.doc_id = id_b
         |WHERE round(CAST(ix AS DOUBLE) / (ca.c + cb.c - ix), 6) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    // census-chosen strategy: same result contract as q_dedup_jaccard
    "q_dedup_auto" ->
      s"""WITH $shingleCte,
         |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       round(CAST(ix AS DOUBLE) / (ca.c + cb.c - ix), 6) AS jac
         |FROM inter
         |JOIN card ca ON ca.doc_id = id_a
         |JOIN card cb ON cb.doc_id = id_b
         |WHERE round(CAST(ix AS DOUBLE) / (ca.c + cb.c - ix), 6) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "q_containment" ->
      s"""WITH $shingleCte,
         |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id_sub, b.doc_id AS id_super, count(*) AS ix
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
         |          GROUP BY 1, 2)
         |SELECT id_sub, id_super,
         |       round(CAST(ix AS DOUBLE) / ca.c, 6) AS containment
         |FROM inter JOIN card ca ON ca.doc_id = id_sub
         |WHERE round(CAST(ix AS DOUBLE) / ca.c, 6) >= 0.9
         |ORDER BY id_sub, id_super""".stripMargin,

    // census-chosen containment strategy: same result contract
    "q_containment_auto" ->
      s"""WITH $shingleCte,
         |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id_sub, b.doc_id AS id_super, count(*) AS ix
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
         |          GROUP BY 1, 2)
         |SELECT id_sub, id_super,
         |       round(CAST(ix AS DOUBLE) / ca.c, 6) AS containment
         |FROM inter JOIN card ca ON ca.doc_id = id_sub
         |WHERE round(CAST(ix AS DOUBLE) / ca.c, 6) >= 0.9
         |ORDER BY id_sub, id_super""".stripMargin,

    // PPJoin prefix-filtered path: same result contract as q_dedup_jaccard
    "q_dedup_ppjoin" ->
      s"""WITH $shingleCte,
         |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       round(CAST(ix AS DOUBLE) / (ca.c + cb.c - ix), 6) AS jac
         |FROM inter
         |JOIN card ca ON ca.doc_id = id_a
         |JOIN card cb ON cb.doc_id = id_b
         |WHERE round(CAST(ix AS DOUBLE) / (ca.c + cb.c - ix), 6) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "q_epoch_shuffle" ->
      """WITH keyed AS (SELECT doc_id, md5('ep1|' || doc_id) AS okey
        |               FROM documents),
        |sharded AS (SELECT doc_id, okey,
        |  CAST(('0x' || substr(okey, 1, 4))::BIGINT % 8 AS INT)
        |    AS shard FROM keyed)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id)
        |    AS BIGINT) AS seq
        |FROM sharded
        |ORDER BY shard, seq""".stripMargin,

    // transitive closure over the verified Jaccard pairs (the recursive
    // CTE IS the oracle for the Spark-side iterative label propagation)
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT id_a, id_b FROM inter
         |          JOIN card ca ON ca.doc_id = id_a
         |          JOIN card cb ON cb.doc_id = id_b
         |          WHERE round(CAST(ix AS DOUBLE) / (ca.c + cb.c - ix), 6) >= 0.8),
         |bi AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |       UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (SELECT src AS node, dst AS r FROM bi
         |          UNION
         |          SELECT w.node, b.dst FROM reach w JOIN bi b ON w.r = b.src)
         |SELECT node AS doc_id, least(node, min(r)) AS cluster_id
         |FROM reach GROUP BY node
         |ORDER BY cluster_id, doc_id""".stripMargin,

    // longest-doc canonical election per near-dup cluster (mirrors
    // Graph.canonicalSurvivors): same transitive-closure clusters, keep
    // the max-n_chars member, ties to the lowest doc_id
    "q_dedup_best" ->
      s"""WITH RECURSIVE $shingleCte,
         |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT id_a, id_b FROM inter
         |          JOIN card ca ON ca.doc_id = id_a
         |          JOIN card cb ON cb.doc_id = id_b
         |          WHERE round(CAST(ix AS DOUBLE) / (ca.c + cb.c - ix), 6) >= 0.8),
         |bi AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |       UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (SELECT src AS node, dst AS r FROM bi
         |          UNION
         |          SELECT w.node, b.dst FROM reach w JOIN bi b ON w.r = b.src),
         |clusters AS (SELECT node AS doc_id, least(node, min(r)) AS cluster_id
         |             FROM reach GROUP BY node),
         |cd AS (SELECT d.doc_id, c.cluster_id, d.n_chars
         |       FROM documents d LEFT JOIN clusters c USING (doc_id)),
         |mx AS (SELECT cluster_id, max(n_chars) AS bc FROM cd
         |       WHERE cluster_id IS NOT NULL GROUP BY cluster_id),
         |win AS (SELECT cd.cluster_id, min(cd.doc_id) AS best_id
         |        FROM cd JOIN mx USING (cluster_id) WHERE cd.n_chars = mx.bc
         |        GROUP BY cd.cluster_id)
         |SELECT cd.doc_id, coalesce(cd.cluster_id, cd.doc_id) AS group_id,
         |  cd.n_chars,
         |  (cd.cluster_id IS NULL OR cd.doc_id = win.best_id) AS keep
         |FROM cd LEFT JOIN win USING (cluster_id)
         |ORDER BY cd.doc_id""".stripMargin,

    "q_cluster_sizes" ->
      s"""WITH RECURSIVE $shingleCte,
         |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT id_a, id_b FROM inter
         |          JOIN card ca ON ca.doc_id = id_a
         |          JOIN card cb ON cb.doc_id = id_b
         |          WHERE round(CAST(ix AS DOUBLE) / (ca.c + cb.c - ix), 6) >= 0.8),
         |bi AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |       UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (SELECT src AS node, dst AS r FROM bi
         |          UNION
         |          SELECT w.node, b.dst FROM reach w JOIN bi b ON w.r = b.src),
         |clusters AS (SELECT node AS doc_id, least(node, min(r)) AS cluster_id
         |             FROM reach GROUP BY node)
         |SELECT cluster_id, count(*) AS n_docs, max(doc_id) AS max_doc
         |FROM clusters GROUP BY cluster_id
         |ORDER BY cluster_id""".stripMargin,

    "q_vocab" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |td AS (SELECT term, doc_id, count(*) AS tf_doc FROM tok GROUP BY 1, 2)
        |SELECT term, CAST(sum(tf_doc) AS BIGINT) AS tf, count(*) AS df
        |FROM td GROUP BY term
        |ORDER BY tf DESC, term
        |LIMIT 100""".stripMargin,

    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |td AS (SELECT term, doc_id, count(*) AS tf_doc FROM tok GROUP BY 1, 2),
        |n AS (SELECT count(*) AS nd FROM documents),
        |dfq AS (SELECT term, count(*) AS df FROM td GROUP BY term),
        |sc AS (SELECT td.doc_id, td.term,
        |         round(td.tf_doc * ln(CAST(nd AS DOUBLE) / df), 6) AS tfidf
        |       FROM td JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf DESC, term) AS rnk FROM sc)
        |SELECT doc_id, term AS top_term, tfidf FROM r WHERE rnk = 1
        |ORDER BY doc_id""".stripMargin,

    "q_checksum" ->
      """WITH c AS (
        |  SELECT md5(
        |    CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR)
        |    || '|' || CAST(l_suppkey AS VARCHAR)
        |    || '|' || CAST(l_linenumber AS VARCHAR)
        |    || '|' || CAST(CAST(round(l_quantity * 100) AS BIGINT) AS VARCHAR)
        |    || '|' || CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR)
        |    || '|' || CAST(CAST(round(l_discount * 100) AS BIGINT) AS VARCHAR)
        |    || '|' || CAST(CAST(round(l_tax * 100) AS BIGINT) AS VARCHAR)
        |    || '|' || l_returnflag || '|' || l_linestatus
        |    || '|' || CAST(epoch_us(l_shipdate) AS VARCHAR)) AS h
        |  FROM lineitem),
        |v AS (SELECT CAST(list_sum(list_transform(range(1, 9),
        |        i -> (strpos('0123456789abcdef',
        |                substr(h, CAST(i AS INTEGER), 1)) - 1)
        |             * CAST(16 ** (8 - i) AS BIGINT))) AS BIGINT) AS hv
        |      FROM c)
        |SELECT count(*) AS n_rows, CAST(sum(hv) AS BIGINT) AS checksum
        |FROM v""".stripMargin,

    "q_snapshot_diff" ->
      """WITH new_side AS (
        |  SELECT o_orderkey AS k,
        |    md5(o_orderstatus || '|' || CAST(o_totalprice AS VARCHAR)) AS h_new
        |  FROM orders),
        |old_side AS (
        |  SELECT o_orderkey AS k,
        |    md5(CASE WHEN o_orderkey % 31 = 0 THEN 'STALE'
        |             ELSE o_orderstatus END
        |        || '|' || CAST(o_totalprice AS VARCHAR)) AS h_old
        |  FROM orders WHERE o_orderkey % 97 <> 0)
        |SELECT status, count(*) AS n_keys FROM (
        |  SELECT CASE WHEN h_old IS NULL THEN 'added'
        |              WHEN h_new IS NULL THEN 'removed'
        |              WHEN h_old <> h_new THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM new_side FULL OUTER JOIN old_side USING (k))
        |GROUP BY status
        |ORDER BY status""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_range_window" ->
      """SELECT user_id, event_type, ts, event_id,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS hour_cents,
        |  count(*) OVER w AS hour_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q_repetition" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS t, generate_subscripts(w, 1) AS i
        |        FROM docs),
        |r AS (SELECT doc_id, t, i,
        |        i - row_number() OVER (PARTITION BY doc_id, t ORDER BY i) AS grp
        |      FROM tok),
        |runs AS (SELECT doc_id, count(*) AS run FROM r GROUP BY doc_id, t, grp),
        |mx AS (SELECT doc_id, CAST(max(run) AS INTEGER) AS max_run
        |       FROM runs GROUP BY doc_id),
        |tf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |agg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n, count(*) AS nd
        |        FROM tf GROUP BY doc_id)
        |SELECT a.doc_id,
        |  round(CAST(nd AS DOUBLE) / n, 6) AS ttr,
        |  round(CAST(top_c AS DOUBLE) / n, 6) AS top_token_share,
        |  mx.max_run
        |FROM agg a JOIN mx USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_data_prep" ->
      """WITH q AS (
        |  SELECT doc_id, text, lang,
        |    least(length(text) / 200.0, 1.0) * 0.5
        |      + least((CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','and','of','to','in'))) AS DOUBLE)
        |          / len(string_split(text, ' '))) * 5.0, 1.0) * 0.3
        |      + (1.0 - least((CAST(length(text) - length(regexp_replace(text,
        |          '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)) * 10.0,
        |          1.0)) * 0.2 AS quality
        |  FROM documents),
        |kept AS (
        |  SELECT *, row_number() OVER (PARTITION BY md5(text)
        |                               ORDER BY doc_id) AS rn
        |  FROM q WHERE quality >= 0.5),
        |s AS (
        |  SELECT *, CASE WHEN substr(md5(text), 1, 1) IN ('0', '1')
        |            THEN 'val' ELSE 'train' END AS split
        |  FROM kept WHERE rn = 1)
        |SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM s
        |GROUP BY 1, 2
        |ORDER BY split, lang""".stripMargin,

    "q_contamination" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |idx AS (SELECT doc_id, unnest(range(1, len(w) - 3)) AS i, w FROM docs),
        |sh AS (SELECT DISTINCT doc_id,
        |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |           || ' ' || w[i+4] AS s
        |       FROM idx),
        |bench AS (SELECT doc_id AS bench_doc, s FROM sh WHERE doc_id < 10),
        |train AS (SELECT doc_id AS train_doc, s FROM sh WHERE doc_id >= 10)
        |SELECT train_doc, bench_doc, count(*) AS n_shared
        |FROM train t JOIN bench b USING (s)
        |GROUP BY 1, 2
        |HAVING count(*) >= 3
        |ORDER BY train_doc, bench_doc""".stripMargin,

    // span-level decontamination (mirrors Dedup.decontamSpans): spans
    // >= 8 via seed-8-gram pairs + LCP extension over the original
    // arrays; spans < 8 via per-width bench gram membership. Final
    // spans CAST to BIGINT to match Spark's long.
    "q_decontam_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |dd AS (SELECT doc_id, t, len(t) AS n FROM d),
        |bench AS (SELECT * FROM dd WHERE doc_id < 100),
        |train AS (SELECT * FROM dd WHERE doc_id >= 100),
        |bseed AS (
        |  SELECT array_to_string(t[pb:pb+7], ' ') AS g, pb, t AS tb, n AS nb
        |  FROM bench CROSS JOIN LATERAL unnest(range(1, n - 6)) AS s(pb)),
        |tseed AS (
        |  SELECT doc_id, t, n, pa, array_to_string(t[pa:pa+7], ' ') AS g
        |  FROM train CROSS JOIN LATERAL unnest(range(1, n - 6)) AS s(pa)),
        |pr AS (
        |  SELECT ts.doc_id,
        |    least(ts.n - ts.pa, bs.nb - bs.pb) + 1 AS m,
        |    list_position(list_transform(
        |      range(0, least(ts.n - ts.pa, bs.nb - bs.pb) + 1),
        |      j -> ts.t[ts.pa + j] = bs.tb[bs.pb + j]), false) AS p
        |  FROM tseed ts JOIN bseed bs ON ts.g = bs.g),
        |long8 AS (
        |  SELECT doc_id,
        |    max(CASE WHEN p IS NULL OR p = 0 THEN m ELSE p - 1 END) AS long_span
        |  FROM pr GROUP BY doc_id),
        |bsmall AS (
        |  SELECT DISTINCT l, array_to_string(t[pb:pb+l-1], ' ') AS g
        |  FROM bench
        |  CROSS JOIN LATERAL unnest(range(1, n + 1)) AS s(pb)
        |  CROSS JOIN LATERAL unnest([1,2,3,4,5,6,7]) AS w(l)
        |  WHERE pb + l - 1 <= n),
        |small AS (
        |  SELECT tr.doc_id, max(w.l) AS small_span
        |  FROM train tr
        |  CROSS JOIN LATERAL unnest(range(1, tr.n + 1)) AS s(pa)
        |  CROSS JOIN LATERAL unnest([1,2,3,4,5,6,7]) AS w(l)
        |  JOIN bsmall bs ON bs.l = w.l
        |    AND bs.g = array_to_string(tr.t[pa:pa+w.l-1], ' ')
        |  WHERE pa + w.l - 1 <= tr.n
        |  GROUP BY tr.doc_id)
        |SELECT tr.doc_id, CAST(tr.n AS BIGINT) AS n_tokens,
        |  CAST(greatest(coalesce(l8.long_span, 0),
        |                coalesce(sm.small_span, 0)) AS BIGINT)
        |    AS max_contam_span
        |FROM train tr
        |LEFT JOIN long8 l8 USING (doc_id)
        |LEFT JOIN small sm USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // excision form (mirrors Dedup.decontamScrub): union of per-seed
    // intervals [pa, pa+span-1] is exactly the contaminated token set;
    // rebuild keeps tokens outside it, in order.
    "q_decontam_scrub" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |dd AS (SELECT doc_id, t, len(t) AS n FROM d),
        |bench AS (SELECT * FROM dd WHERE doc_id < 100),
        |train AS (SELECT * FROM dd WHERE doc_id >= 100),
        |bseed AS (
        |  SELECT array_to_string(t[pb:pb+7], ' ') AS g, pb, t AS tb, n AS nb
        |  FROM bench CROSS JOIN LATERAL unnest(range(1, n - 6)) AS s(pb)),
        |tseed AS (
        |  SELECT doc_id, t, n, pa, array_to_string(t[pa:pa+7], ' ') AS g
        |  FROM train CROSS JOIN LATERAL unnest(range(1, n - 6)) AS s(pa)),
        |pr AS (
        |  SELECT ts.doc_id, ts.pa,
        |    least(ts.n - ts.pa, bs.nb - bs.pb) + 1 AS m,
        |    list_position(list_transform(
        |      range(0, least(ts.n - ts.pa, bs.nb - bs.pb) + 1),
        |      j -> ts.t[ts.pa + j] = bs.tb[bs.pb + j]), false) AS p
        |  FROM tseed ts JOIN bseed bs ON ts.g = bs.g),
        |sp AS (
        |  SELECT doc_id, pa,
        |    max(CASE WHEN p IS NULL OR p = 0 THEN m ELSE p - 1 END) AS l
        |  FROM pr GROUP BY doc_id, pa),
        |iv AS (SELECT doc_id, pa, pa + l - 1 AS e FROM sp WHERE l >= 8),
        |rm AS (SELECT DISTINCT doc_id, j
        |       FROM iv CROSS JOIN LATERAL unnest(generate_series(pa, e)) AS s(j)),
        |keep AS (
        |  SELECT tr.doc_id, s.j, tr.t[s.j] AS tok
        |  FROM train tr CROSS JOIN LATERAL unnest(generate_series(1, tr.n)) AS s(j)
        |  WHERE NOT EXISTS (SELECT 1 FROM rm
        |                    WHERE rm.doc_id = tr.doc_id AND rm.j = s.j)),
        |ag AS (SELECT doc_id, count(*) AS n_kept,
        |         string_agg(tok, ' ' ORDER BY j) AS clean_text
        |       FROM keep GROUP BY doc_id)
        |SELECT tr.doc_id, CAST(tr.n AS BIGINT) AS n_tokens,
        |  CAST(tr.n - coalesce(ag.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(ag.clean_text, '') AS clean_text
        |FROM train tr LEFT JOIN ag USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_zorder" -> {
      val interleave = (0 until 8).map { k =>
        s"(((cx >> $k) & 1) << ${2 * k}) + (((cy >> $k) & 1) << ${2 * k + 1})"
      }.mkString(" + ")
      s"""WITH cells AS (
         |  SELECT l_orderkey, l_linenumber,
         |    l_partkey % 256 AS cx, l_suppkey % 256 AS cy
         |  FROM lineitem)
         |SELECT l_orderkey, l_linenumber, cx, cy,
         |  $interleave AS zcode
         |FROM cells
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    "q_redact" ->
      """SELECT doc_id,
        |  array_to_string(list_transform(string_split(text, ' '),
        |    t -> CASE WHEN t IN ('customer', 'key', 'value')
        |         THEN '[REDACTED]' ELSE t END), ' ') AS redacted,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('customer', 'key', 'value'))) AS INTEGER) AS n_redacted
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum_before
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |  cum_before // 256 AS bin_start,
        |  (cum_before + n_tokens - 1) // 256 AS bin_end
        |FROM c
        |ORDER BY doc_id""".stripMargin,

    "q_kn_trigram" -> TextAnalysis.knTrigramSql,

    // marker-count replay with the same fixed argmax precedence
    "q_lid_confusion" ->
      """WITH s AS (
        |  SELECT lang,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'a', 'and'))) AS en,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('el', 'la', 'los'))) AS es,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('le', 'les', 'et'))) AS fr,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('der', 'die', 'und'))) AS de
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN en >= es AND en >= fr AND en >= de AND en > 0 THEN 'en'
        |       WHEN es >= fr AND es >= de AND es > 0 THEN 'es'
        |       WHEN fr >= de AND fr > 0 THEN 'fr'
        |       WHEN de > 0 THEN 'de'
        |       ELSE 'unknown' END AS pred,
        |  count(*) AS n_docs
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // per-document script-mix census: literal Unicode-range classes
    // (java-regex ∩ RE2), dominant script, purity in exact integer ppm
    "q_script_mix" ->
      """WITH c AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
        |      AS BIGINT) AS n_latin,
        |    CAST(length(text) - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g'))
        |      AS BIGINT) AS n_cyrillic,
        |    CAST(length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g'))
        |      AS BIGINT) AS n_cjk,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS BIGINT) AS n_digit
        |  FROM documents),
        |l AS (SELECT *, n_latin + n_cyrillic + n_cjk AS n_letters FROM c)
        |SELECT doc_id, n_chars, n_latin, n_cyrillic, n_cjk, n_digit, n_letters,
        |  CASE WHEN n_letters = 0 THEN 'none'
        |       WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk THEN 'latin'
        |       WHEN n_cyrillic >= n_cjk THEN 'cyrillic'
        |       ELSE 'cjk' END AS dominant,
        |  CASE WHEN n_letters = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST((greatest(n_latin, n_cyrillic, n_cjk) * 1000000)
        |                 // n_letters AS BIGINT) END AS purity_ppm
        |FROM l ORDER BY doc_id""".stripMargin,

    // DoReMi-flavored mixture weights from the domain-shift matrix:
    // excess = best other-model NLL minus own-model NLL (uniqueness),
    // softmax carried as 1e-9-quantized integer terms so the normalizer
    // is an order-invariant BIGINT sum
    "q_domain_reweight" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |            FROM documents),
        |cnt AS MATERIALIZED (SELECT source, w, count(*) AS c
        |                     FROM tok GROUP BY 1, 2),
        |ntot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
        |         FROM cnt GROUP BY 1),
        |voc AS (SELECT count(DISTINCT w) AS v FROM cnt),
        |sc AS (SELECT a.source AS src_a, b.source AS src_b, a.c AS ca,
        |              cb.c AS cb, b.n, voc.v
        |       FROM cnt a
        |       CROSS JOIN ntot b
        |       LEFT JOIN cnt cb ON cb.source = b.source AND cb.w = a.w
        |       CROSS JOIN voc),
        |mat AS MATERIALIZED (
        |  SELECT src_a, src_b,
        |    CAST(round(round(-sum(CAST(ca AS DOUBLE)
        |      * ln((CAST(coalesce(cb, 0) AS DOUBLE) + 1.0)
        |            / (CAST(n AS DOUBLE) + CAST(v AS DOUBLE))))
        |      / CAST(sum(ca) AS DOUBLE), 6) * 1e6) AS BIGINT) AS nll_q6
        |  FROM sc GROUP BY 1, 2),
        |slf AS (SELECT src_a AS source, nll_q6 AS self_nll_q6
        |        FROM mat WHERE src_a = src_b),
        |omin AS (SELECT src_a AS source, min(nll_q6) AS best_other_nll_q6
        |         FROM mat WHERE src_a <> src_b GROUP BY 1),
        |ex AS MATERIALIZED (
        |  SELECT s.source, s.self_nll_q6, o.best_other_nll_q6,
        |         o.best_other_nll_q6 - s.self_nll_q6 AS excess_q6
        |       FROM slf s JOIN omin o USING (source)),
        |et AS MATERIALIZED (
        |  SELECT *, CAST(round(exp(CAST(excess_q6
        |      - (SELECT max(excess_q6) FROM ex) AS DOUBLE) / 1e6 / 0.5)
        |      * 1e9) AS BIGINT) AS eterm
        |  FROM ex)
        |SELECT source, self_nll_q6, best_other_nll_q6, excess_q6,
        |  CAST((eterm * 1000000) // (SELECT sum(eterm) FROM et) AS BIGINT)
        |    AS weight_ppm
        |FROM et ORDER BY source""".stripMargin,

    "q_domain_shift" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |            FROM documents),
        |cnt AS MATERIALIZED (SELECT source, w, count(*) AS c
        |                     FROM tok GROUP BY 1, 2),
        |ntot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
        |         FROM cnt GROUP BY 1),
        |voc AS (SELECT count(DISTINCT w) AS v FROM cnt),
        |sc AS (SELECT a.source AS src_a, b.source AS src_b, a.c AS ca,
        |              cb.c AS cb, b.n, voc.v
        |       FROM cnt a
        |       CROSS JOIN ntot b
        |       LEFT JOIN cnt cb ON cb.source = b.source AND cb.w = a.w
        |       CROSS JOIN voc)
        |SELECT src_a, src_b, CAST(sum(ca) AS BIGINT) AS n_tok,
        |  round(-sum(CAST(ca AS DOUBLE)
        |    * ln((CAST(coalesce(cb, 0) AS DOUBLE) + 1.0)
        |          / (CAST(n AS DOUBLE) + CAST(v AS DOUBLE))))
        |    / CAST(sum(ca) AS DOUBLE), 6) AS mean_nll
        |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_bigram_lm" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |idx AS (SELECT doc_id, unnest(range(1, len(w))) AS i, w FROM tok),
        |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM idx),
        |db AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2, 3),
        |corpus AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS c_bg
        |           FROM db GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c_bg) AS BIGINT) AS c_ctx
        |        FROM corpus GROUP BY 1)
        |SELECT db.doc_id, CAST(sum(db.cnt) AS BIGINT) AS n_bigrams,
        |  round(sum(db.cnt * ln(CAST(c_bg AS DOUBLE) / c_ctx)) / sum(db.cnt), 6)
        |    AS avg_logprob
        |FROM db JOIN corpus USING (w1, w2) JOIN ctx USING (w1)
        |GROUP BY db.doc_id
        |ORDER BY doc_id""".stripMargin,

    // KMV sketch overlap: generated oracle (TextAnalysis.kmvOverlapSql)
    // replays the md5-derived sketches bit-exactly
    "q_kmv_overlap" -> TextAnalysis.kmvOverlapSql(),

    // exact-k per-stratum sample: md5 rank is the deterministic coin
    "q_key_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    ('0x' || substr(md5('ks|' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::BIGINT AS hv
        |  FROM documents),
        |r AS (SELECT lang, doc_id,
        |        row_number() OVER (PARTITION BY lang ORDER BY hv) AS rnk
        |      FROM h)
        |SELECT lang, CAST(rnk AS INTEGER) AS rnk, doc_id
        |FROM r WHERE rnk <= 8
        |ORDER BY lang, rnk""".stripMargin,

    // Pairwise Jensen-Shannon divergence: shared-support log terms are
    // 1e-12-quantized BIGINT units (order-free), exclusive mass rides
    // the 0.5*ln2 identity from exact integer masses
    "q_js_divergence" ->
      """WITH cnt AS MATERIALIZED (
        |  SELECT source, w, count(*) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2),
        |ntot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
        |         FROM cnt GROUP BY 1),
        |t AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    a.c AS ca, b.c AS cb, na.n AS na, nb.n AS nb,
        |    CAST(a.c AS DOUBLE) / CAST(na.n AS DOUBLE) AS p,
        |    CAST(b.c AS DOUBLE) / CAST(nb.n AS DOUBLE) AS q
        |  FROM cnt a JOIN cnt b ON a.w = b.w AND a.source < b.source
        |  JOIN ntot na ON na.source = a.source
        |  JOIN ntot nb ON nb.source = b.source)
        |SELECT src_a, src_b, count(*) AS shared_terms,
        |  CAST(CAST(round((
        |      CAST(sum(CAST(round((0.5 * p * ln(2.0 * p / (p + q))
        |          + 0.5 * q * ln(2.0 * q / (p + q))) * 1e12) AS BIGINT))
        |        AS DOUBLE) / 1e12
        |      + 0.5 * ln(2.0) * (2.0
        |        - CAST(sum(ca) AS DOUBLE) / CAST(max(na) AS DOUBLE)
        |        - CAST(sum(cb) AS DOUBLE) / CAST(max(nb) AS DOUBLE))
        |    ) * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS jsd
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_bm25" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |  list_filter(w, x -> x IN ('spark', 'vector', 'merge')) AS q FROM tok),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |          CAST(sum(dl) AS BIGINT) AS total_dl FROM base),
        |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, dl, unnest(q) AS term FROM base)
        |       GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |    * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl
        |        / (CAST(total_dl AS DOUBLE) / n_docs)))), 6) AS bm25
        |FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        |GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 25""".stripMargin,

    // hybrid retrieval by reciprocal-rank fusion (mirrors
    // TextAnalysis.hybridTopK): BM25 top-50 and cosine top-50 lists
    // full-outer-joined, rrf = 1/(60+lex_rank) + 1/(60+sem_rank)
    "q_hybrid_rrf" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |  list_filter(w, x -> x IN ('spark', 'vector', 'merge')) AS q FROM tok),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |          CAST(sum(dl) AS BIGINT) AS total_dl FROM base),
        |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, dl, unnest(q) AS term FROM base)
        |       GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |bm AS (SELECT doc_id,
        |  round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |    * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl
        |        / (CAST(total_dl AS DOUBLE) / n_docs)))), 6) AS bm25
        |FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
        |lex AS (SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
        |    AS lex_rank FROM bm),
        |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |       WHERE vec_id = 0),
        |cs AS (SELECT vec_id AS doc_id,
        |        round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6)
        |          AS cos
        |      FROM embeddings, qv WHERE vec_id <> 0
        |      ORDER BY cos DESC, doc_id LIMIT 50),
        |sem AS (SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT)
        |    AS sem_rank FROM cs),
        |fused AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
        |    lex_rank, sem_rank,
        |    round(COALESCE(1.0 / (lex_rank + 60), 0.0)
        |        + COALESCE(1.0 / (sem_rank + 60), 0.0), 6) AS rrf
        |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
        |  ORDER BY rrf DESC, doc_id LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT)
        |    AS rnk, doc_id, lex_rank, sem_rank, rrf
        |FROM fused ORDER BY rnk""".stripMargin,

    "q_perplexity" ->
      """WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS w
        |             FROM documents),
        |idx AS (SELECT doc_id, lang, unnest(range(1, len(w))) AS i, w FROM tok),
        |bg AS (SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2 FROM idx),
        |db AS (SELECT doc_id, lang, w1, w2, count(*) AS cnt
        |       FROM bg GROUP BY 1, 2, 3, 4),
        |train AS (SELECT * FROM db WHERE doc_id % 10 < 8),
        |corpus AS (SELECT lang, w1, w2, CAST(sum(cnt) AS BIGINT) AS c_bg
        |           FROM train GROUP BY 1, 2, 3),
        |ctx AS (SELECT lang, w1, CAST(sum(c_bg) AS BIGINT) AS c_ctx
        |        FROM corpus GROUP BY 1, 2),
        |voc AS (SELECT lang, CAST(count(DISTINCT w2) AS BIGINT) AS v_sz
        |        FROM corpus GROUP BY 1),
        |scored AS (SELECT db.doc_id, db.lang,
        |    CAST(sum(db.cnt) AS BIGINT) AS n_bigrams,
        |    round(-sum(db.cnt * ln(CAST(COALESCE(c_bg, 0) + 1 AS DOUBLE)
        |                           / CAST(COALESCE(c_ctx, 0) + v_sz AS DOUBLE)))
        |          / sum(db.cnt), 6) AS avg_nll
        |  FROM db LEFT JOIN corpus USING (lang, w1, w2)
        |       LEFT JOIN ctx USING (lang, w1)
        |       JOIN voc USING (lang)
        |  GROUP BY 1, 2),
        |hist AS (SELECT lang, avg_nll, count(*) AS nd FROM scored GROUP BY 1, 2),
        |cum AS (SELECT lang, avg_nll,
        |    CAST(COALESCE(sum(nd) OVER (PARTITION BY lang ORDER BY avg_nll
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS r,
        |    CAST(sum(nd) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
        |  FROM hist)
        |SELECT scored.doc_id, scored.lang, scored.n_bigrams, scored.avg_nll,
        |  CAST(1 + (3 * r) // n_lang AS INT) AS ppl_bucket
        |FROM scored JOIN cum USING (lang, avg_nll)
        |ORDER BY doc_id""".stripMargin,

    "q_shard_census" ->
      """SELECT CAST(strpos('0123456789abcdef',
        |         substr(md5('sh|' || doc_id), 1, 1)) - 1 AS INT) AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents
        |GROUP BY 1
        |ORDER BY shard""".stripMargin,

    "q_profile" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v,
           |  round(avg($c), 6) AS avg_v
           |FROM lineitem""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name"),

    "q_rsi_wilder" ->
      """WITH RECURSIVE base AS (
        |  SELECT user_id, event_type, ts, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |d AS (
        |  SELECT *, value - lag(value) OVER (PARTITION BY user_id, event_type
        |                                     ORDER BY rn) AS delta
        |  FROM base),
        |g AS (
        |  SELECT *,
        |    CASE WHEN delta > 0 THEN delta ELSE 0 END AS gain_v,
        |    CASE WHEN delta < 0 THEN -delta ELSE 0 END AS loss_v
        |  FROM d),
        |seed AS (
        |  SELECT user_id, event_type, rn, gain_v, loss_v,
        |    avg(gain_v) OVER w14 AS sg, avg(loss_v) OVER w14 AS sl
        |  FROM g
        |  WINDOW w14 AS (PARTITION BY user_id, event_type ORDER BY rn
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |rec AS (
        |  SELECT user_id, event_type, rn, sg AS wg, sl AS wl
        |  FROM seed WHERE rn = 14
        |  UNION ALL
        |  SELECT s.user_id, s.event_type, s.rn,
        |    (1.0/14.0) * s.gain_v + (1.0 - 1.0/14.0) * r.wg,
        |    (1.0/14.0) * s.loss_v + (1.0 - 1.0/14.0) * r.wl
        |  FROM rec r JOIN seed s
        |    ON s.user_id = r.user_id AND s.event_type = r.event_type
        |   AND s.rn = r.rn + 1)
        |SELECT b.user_id, b.event_type, b.ts, b.event_id,
        |  CAST(round(r.wg * 1e6) AS BIGINT) AS avg_gain_q6,
        |  CAST(round(r.wl * 1e6) AS BIGINT) AS avg_loss_q6,
        |  CAST(round((CASE WHEN r.wg IS NULL OR r.wl IS NULL THEN NULL
        |             WHEN r.wl = 0 AND r.wg = 0 THEN NULL
        |             WHEN r.wl = 0 THEN 100.0
        |             ELSE 100.0 - 100.0 / (1.0 + r.wg / r.wl) END) * 1e6)
        |    AS BIGINT) AS rsi_wilder_q6
        |FROM base b
        |LEFT JOIN rec r ON r.user_id = b.user_id
        |  AND r.event_type = b.event_type AND r.rn = b.rn
        |ORDER BY b.user_id, b.event_type, b.ts, b.event_id""".stripMargin,

    "q_dedup_minhash_lsh" ->
      s"""WITH $shingleCte,
         |$minhashSigSql,
         |bands AS (
         |  SELECT doc_id, 0 AS band_idx, md5(h0||'|'||h1||'|'||h2) AS band_hash FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h3||'|'||h4||'|'||h5) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h6||'|'||h7||'|'||h8) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h9||'|'||h10||'|'||h11) FROM sig)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands
         |FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         | AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
         |              FROM documents),
         |fp AS (SELECT doc_id,
         |    $simhashBitsSql AS simhash
         |  FROM toks GROUP BY doc_id)
         |SELECT simhash, min(doc_id) AS keep_id, count(*) AS n_docs
         |FROM fp GROUP BY simhash HAVING count(*) >= 2
         |ORDER BY simhash""".stripMargin,

    // portable-hash bloom replay: same md5 positions, same distinct bit
    // set, all-k-present probe rule, load-factor theory multiplied out
    "q_bloom_fpr" ->
      """WITH fps AS (SELECT doc_id, md5(lower(text)) AS fp FROM documents),
        |pos AS MATERIALIZED (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('bf' || j.j || '|' || fp), 1, 8))::BIGINT
        |      % 65536 AS pos
        |  FROM fps CROSS JOIN (SELECT unnest(range(1, 4)) AS j) j),
        |bits AS MATERIALIZED (
        |  SELECT DISTINCT pos FROM pos WHERE doc_id % 2 = 0),
        |per_probe AS (
        |  SELECT p.doc_id,
        |    sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_present
        |  FROM pos p LEFT JOIN bits b ON b.pos = p.pos
        |  WHERE p.doc_id % 2 = 1 GROUP BY p.doc_id),
        |agg AS (SELECT
        |  (SELECT count(*) FROM fps WHERE doc_id % 2 = 0) AS n_train,
        |  (SELECT count(*) FROM per_probe) AS n_probes,
        |  (SELECT count(*) FROM bits) AS bits_set,
        |  (SELECT count(*) FROM per_probe WHERE n_present = 3) AS fp_count)
        |SELECT CAST(n_train AS BIGINT) AS n_train,
        |  CAST(n_probes AS BIGINT) AS n_probes,
        |  CAST(bits_set AS BIGINT) AS bits_set,
        |  CAST(fp_count AS BIGINT) AS fp_count,
        |  round(CAST(fp_count AS DOUBLE) / CAST(n_probes AS DOUBLE), 6) AS fp_rate,
        |  round(CAST(bits_set AS DOUBLE) / 65536.0, 6) AS load,
        |  round(CAST(bits_set AS DOUBLE) / 65536.0
        |    * (CAST(bits_set AS DOUBLE) / 65536.0)
        |    * (CAST(bits_set AS DOUBLE) / 65536.0), 6) AS fp_theory
        |FROM agg""".stripMargin,

    // fingerprint replay + exact Jaccard on the C(probes,2) pair slice
    "q_simhash_acc" ->
      s"""WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
         |              FROM documents WHERE doc_id < 100),
         |fp AS MATERIALIZED (SELECT doc_id,
         |    $simhashBitsSql AS sig
         |  FROM toks GROUP BY doc_id),
         |base AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
         |  FROM documents WHERE doc_id < 100),
         |ph AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |    CAST(sum(CASE WHEN substr(a.sig, p.p, 1) <> substr(b.sig, p.p, 1)
         |             THEN 1 ELSE 0 END) AS INTEGER) AS hamming
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |  CROSS JOIN (SELECT unnest(range(1, 17)) AS p) p
         |  GROUP BY 1, 2),
         |jc AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |    CAST(round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(a.tk, b.tk))) AS DOUBLE)
         |      * 1e6) AS BIGINT) AS jq
         |  FROM base a JOIN base b ON a.doc_id < b.doc_id)
         |SELECT hamming, count(*) AS n_pairs,
         |  CAST(round(CAST(sum(jq) AS DOUBLE) / count(*)) AS BIGINT)
         |    AS mean_jacc_q6
         |FROM ph JOIN jc USING (ida, idb)
         |GROUP BY hamming ORDER BY hamming""".stripMargin,

    "q_dedup_survivors" ->
      s"""WITH $shingleCte,
         |$minhashSigSql,
         |bands AS (
         |  SELECT doc_id, 0 AS band_idx, md5(h0||'|'||h1||'|'||h2) AS band_hash FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h3||'|'||h4||'|'||h5) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h6||'|'||h7||'|'||h8) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h9||'|'||h10||'|'||h11) FROM sig),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |          AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2),
         |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |ver AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT c.id_a, c.id_b, count(*) AS ix, max(ca.c) AS ca, max(cb.c) AS cb
         |    FROM cand c
         |    JOIN sh a ON a.doc_id = c.id_a
         |    JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
         |    JOIN card ca ON ca.doc_id = c.id_a
         |    JOIN card cb ON cb.doc_id = c.id_b
         |    GROUP BY c.id_a, c.id_b)
         |  WHERE round(CAST(ix AS DOUBLE) / (ca + cb - ix), 6) >= 0.8)
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id_b FROM ver)
         |ORDER BY doc_id""".stripMargin,

    "q_winnow" ->
      """WITH docs AS (
        |  SELECT doc_id, text, length(text) - 7 AS np FROM documents
        |  WHERE length(text) >= 13),
        |pos AS (SELECT doc_id, np, text, unnest(range(1, np + 1)) AS i FROM docs),
        |grams AS (SELECT doc_id, np, i,
        |            md5(substr(text, CAST(i AS INTEGER), 8)) AS h
        |          FROM pos),
        |sel AS (SELECT doc_id, i, np,
        |          min(h) OVER (PARTITION BY doc_id ORDER BY i
        |                       ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS sel
        |        FROM grams),
        |prints AS (SELECT DISTINCT doc_id, sel FROM sel WHERE i <= np - 5)
        |SELECT doc_id, count(*) AS n_prints,
        |  min(sel) AS min_print, max(sel) AS max_print
        |FROM prints
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_embedding" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 6) AS cos
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
        |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_semantic" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
        |asg AS (SELECT vec_id, v, centroid_id FROM (
        |    SELECT e.vec_id, e.v, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rnk
        |    FROM e CROSS JOIN cents c) WHERE rnk = 1),
        |dropped AS (SELECT DISTINCT a.vec_id
        |            FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id
        |              AND b.vec_id < a.vec_id
        |            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35)
        |SELECT a.vec_id, a.centroid_id,
        |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM asg a LEFT JOIN dropped d ON a.vec_id = d.vec_id
        |ORDER BY a.vec_id""".stripMargin,

    "q_ann_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id,
        |        round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS cos
        |      FROM embeddings, q WHERE vec_id <> 0),
        |r AS (SELECT *, row_number() OVER (ORDER BY cos DESC, vec_id) AS rnk FROM s)
        |SELECT rnk, vec_id, cos FROM r WHERE rnk <= 10 ORDER BY rnk""".stripMargin,

    "q_ann_batch" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |          FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT q.query_id, e.vec_id,
        |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos
        |      FROM embeddings e, q WHERE e.vec_id >= 8),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, vec_id) AS INTEGER) AS rnk FROM s)
        |SELECT query_id, rnk, vec_id, cos FROM r WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,

    // product-quantization ANN (mirrors Similarity.pqTopK): one integer-
    // exact Lloyd round per subspace from first-16 seeds, per-vector
    // codes, query ADC lookup-table scoring, integer-ranked top-10 with
    // exact-cosine annotation
    "q_ann_pq" ->
      """WITH ev AS (
        |  SELECT vec_id, CAST((pos - 1) // 2 AS INT) AS sub,
        |         CAST((pos - 1) % 2 AS INT) AS spos,
        |         CAST(round(x / nrm * 1000) AS BIGINT) AS qx
        |  FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |               generate_subscripts(embedding, 1) AS pos,
        |               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                                       CAST(embedding AS DOUBLE[]))) AS nrm
        |        FROM embeddings)),
        |c0 AS (SELECT vec_id AS centroid_id, sub, spos, qx AS cx
        |       FROM ev WHERE vec_id < 16),
        |a0 AS (SELECT vec_id, sub, centroid_id FROM (
        |  SELECT ev.vec_id, ev.sub, c.centroid_id,
        |    row_number() OVER (PARTITION BY ev.vec_id, ev.sub
        |      ORDER BY sum((ev.qx - c.cx) * (ev.qx - c.cx)), c.centroid_id) AS rnk
        |  FROM ev JOIN c0 c ON ev.sub = c.sub AND ev.spos = c.spos
        |  GROUP BY ev.vec_id, ev.sub, c.centroid_id) WHERE rnk = 1),
        |u1 AS (SELECT a.centroid_id, ev.sub, ev.spos,
        |         CAST(round(avg(ev.qx)) AS BIGINT) AS ux
        |       FROM a0 a JOIN ev ON a.vec_id = ev.vec_id AND a.sub = ev.sub
        |       GROUP BY a.centroid_id, ev.sub, ev.spos),
        |c1 AS (SELECT c.centroid_id, c.sub, c.spos, COALESCE(u.ux, c.cx) AS cx
        |       FROM c0 c LEFT JOIN u1 u
        |         ON c.centroid_id = u.centroid_id AND c.sub = u.sub
        |        AND c.spos = u.spos),
        |codes AS (SELECT vec_id, sub, centroid_id FROM (
        |  SELECT ev.vec_id, ev.sub, c.centroid_id,
        |    row_number() OVER (PARTITION BY ev.vec_id, ev.sub
        |      ORDER BY sum((ev.qx - c.cx) * (ev.qx - c.cx)), c.centroid_id) AS rnk
        |  FROM ev JOIN c1 c ON ev.sub = c.sub AND ev.spos = c.spos
        |  GROUP BY ev.vec_id, ev.sub, c.centroid_id) WHERE rnk = 1),
        |lut AS (SELECT c.sub, c.centroid_id,
        |    sum((q.qx - c.cx) * (q.qx - c.cx)) AS pd2
        |  FROM ev q JOIN c1 c ON q.sub = c.sub AND q.spos = c.spos
        |  WHERE q.vec_id = 0
        |  GROUP BY c.sub, c.centroid_id),
        |scored AS (SELECT cd.vec_id, CAST(sum(l.pd2) AS BIGINT) AS adc_dist2
        |  FROM codes cd JOIN lut l
        |    ON cd.sub = l.sub AND cd.centroid_id = l.centroid_id
        |  WHERE cd.vec_id <> 0
        |  GROUP BY cd.vec_id ORDER BY adc_dist2, cd.vec_id LIMIT 10),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |      WHERE vec_id = 0)
        |SELECT CAST(row_number() OVER (ORDER BY s.adc_dist2, s.vec_id)
        |         AS INTEGER) AS rnk,
        |  s.vec_id, s.adc_dist2,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos
        |FROM scored s JOIN embeddings e ON s.vec_id = e.vec_id CROSS JOIN q
        |ORDER BY rnk""".stripMargin,

    "q_ann_quantized" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
        |qz AS (SELECT vec_id, v,
        |        list_transform(v, x -> CASE WHEN ma = 0 THEN 0.0
        |          ELSE round(x * 127.0 / ma) END) AS q8
        |       FROM m),
        |qq AS (SELECT q8 AS qq8, v AS qv FROM qz WHERE vec_id = 0),
        |s AS (SELECT z.vec_id, z.v,
        |        CAST(list_inner_product(z.q8, qq.qq8) AS BIGINT) AS qscore
        |      FROM qz z CROSS JOIN qq WHERE z.vec_id <> 0),
        |pool AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (ORDER BY qscore DESC, vec_id) AS prnk
        |    FROM s) WHERE prnk <= 30),
        |rr AS (SELECT p.vec_id, p.qscore,
        |        round(list_cosine_similarity(p.v, qq.qv), 6) AS cos
        |      FROM pool p CROSS JOIN qq),
        |fin AS (SELECT *, row_number() OVER (ORDER BY cos DESC, vec_id) AS rnk
        |        FROM rr)
        |SELECT rnk, vec_id, cos, qscore FROM fin WHERE rnk <= 10
        |ORDER BY rnk""".stripMargin,

    "q_ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
        |asg AS (SELECT vec_id, v, centroid_id FROM (
        |    SELECT e.vec_id, e.v, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rnk
        |    FROM e CROSS JOIN cents c) WHERE rnk = 1),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |probed AS (SELECT centroid_id FROM (
        |    SELECT c.centroid_id,
        |      row_number() OVER (ORDER BY list_cosine_similarity(c.cv, q.qv) DESC,
        |                         c.centroid_id) AS rnk
        |    FROM cents c, q) WHERE rnk <= 2),
        |s AS (SELECT a.vec_id, round(list_cosine_similarity(a.v, q.qv), 6) AS cos
        |      FROM asg a JOIN probed p ON a.centroid_id = p.centroid_id, q
        |      WHERE a.vec_id <> 0),
        |r AS (SELECT *, row_number() OVER (ORDER BY cos DESC, vec_id) AS rnk FROM s)
        |SELECT rnk, vec_id, cos FROM r WHERE rnk <= 10 ORDER BY rnk""".stripMargin,

    "q_ann_lsh_buckets" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(e AS DOUBLE) AS e, i FROM (
        |    SELECT vec_id, unnest(embedding) AS e,
        |      generate_subscripts(embedding, 1) AS i
        |    FROM embeddings)),
        |dots AS (
        |  SELECT vec_id, p,
        |    sum((strpos('0123456789abcdef',
        |           substr(md5('hp|' || CAST(i AS VARCHAR)), CAST(p AS INTEGER), 1)) - 8.5) * e) AS dot
        |  FROM comp, (SELECT unnest(range(1, 9)) AS p) planes
        |  GROUP BY vec_id, p),
        |sig AS (
        |  SELECT vec_id,
        |    string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
        |  FROM dots GROUP BY vec_id)
        |SELECT sig, count(*) AS n_vecs, min(vec_id) AS min_vec
        |FROM sig GROUP BY sig
        |ORDER BY sig""".stripMargin,

    // LSH bucket recall vs exact top-10 (mirrors Similarity.lshRecall):
    // per query, exact top-k membership of the query's own bucket
    "q_lsh_recall" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(e AS DOUBLE) AS e, i FROM (
        |    SELECT vec_id, unnest(embedding) AS e,
        |      generate_subscripts(embedding, 1) AS i
        |    FROM embeddings)),
        |dots AS (
        |  SELECT vec_id, p,
        |    sum((strpos('0123456789abcdef',
        |           substr(md5('hp|' || CAST(i AS VARCHAR)), CAST(p AS INTEGER), 1)) - 8.5) * e) AS dot
        |  FROM comp, (SELECT unnest(range(1, 9)) AS p) planes
        |  GROUP BY vec_id, p),
        |sig AS MATERIALIZED (
        |  SELECT vec_id,
        |    string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
        |  FROM dots GROUP BY vec_id),
        |q AS (SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qv,
        |        s.sig AS qsig
        |      FROM embeddings e JOIN sig s ON e.vec_id = s.vec_id
        |      WHERE e.vec_id < 8),
        |scored AS (
        |  SELECT q.query_id, q.qsig, e.vec_id, s.sig,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
        |      AS cos
        |  FROM embeddings e JOIN sig s ON e.vec_id = s.vec_id
        |  CROSS JOIN q WHERE e.vec_id >= 8),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, vec_id) AS rnk FROM scored),
        |h AS (SELECT query_id, qsig,
        |        CAST(sum(CASE WHEN sig = qsig THEN 1 ELSE 0 END) AS BIGINT)
        |          AS hits
        |      FROM ranked WHERE rnk <= 10 GROUP BY query_id, qsig),
        |b AS (SELECT s.sig AS qsig, count(*) AS n_candidates
        |      FROM sig s WHERE s.vec_id >= 8 GROUP BY s.sig)
        |SELECT query_id,
        |  CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates,
        |  hits, round(hits / 10.0, 6) AS recall
        |FROM h LEFT JOIN b USING (qsig)
        |ORDER BY query_id""".stripMargin,

    // mutual k-NN graph: LSH-bucket candidates -> per-node top-5 ->
    // reciprocity check; same signature replay as q_ann_lsh_buckets
    // bucket-saturation census over the corpus-scaled signature: exact
    // integer quantiles from the bucket-size histogram + the fraction
    // of the corpus inside cap-saturated buckets
    "q_bucket_stats" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(e AS DOUBLE) AS e, i FROM (
        |    SELECT vec_id, unnest(embedding) AS e,
        |      generate_subscripts(embedding, 1) AS i
        |    FROM embeddings)),
        |tot AS (SELECT count(DISTINCT vec_id) AS n_tot FROM comp),
        |pl AS (SELECT coalesce(min(p), 32) AS planes
        |       FROM range(1, 33) r(p), tot
        |       WHERE (CAST(1 AS BIGINT) << p) * 32 >= n_tot),
        |dots AS (
        |  SELECT vec_id, p,
        |    sum((strpos('0123456789abcdef',
        |           substr(md5('hp|' || CAST(i AS VARCHAR)), CAST(p AS INTEGER), 1)) - 8.5) * e) AS dot
        |  FROM comp, (SELECT unnest(range(1, 33)) AS p) planes
        |  GROUP BY vec_id, p),
        |sig AS MATERIALIZED (
        |  SELECT vec_id,
        |    substr(string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
        |                      ORDER BY p),
        |           1, (SELECT CAST(planes AS INTEGER) FROM pl)) AS sig
        |  FROM dots GROUP BY vec_id),
        |buckets AS (SELECT sig, count(*) AS bsz FROM sig GROUP BY sig),
        |hist AS (
        |  SELECT bsz, count(*) AS nb,
        |    CAST(sum(count(*)) OVER (ORDER BY bsz
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM buckets GROUP BY bsz),
        |t AS (
        |  SELECT CAST(sum(nb) AS BIGINT) AS n_buckets,
        |    CAST(sum(nb * bsz) AS BIGINT) AS n_vecs,
        |    CAST(max(bsz) AS BIGINT) AS max_bucket,
        |    CAST(sum(CASE WHEN bsz > 256 THEN nb ELSE 0 END) AS BIGINT)
        |      AS n_saturated,
        |    CAST(sum(CASE WHEN bsz > 256 THEN nb * bsz ELSE 0 END) AS BIGINT)
        |      AS vecs_in_saturated
        |  FROM hist)
        |SELECT t.n_buckets, t.n_vecs, t.max_bucket,
        |  (SELECT CAST(min(bsz) AS BIGINT) FROM hist, t
        |   WHERE cum * 100 >= n_buckets * 50) AS p50_bucket,
        |  (SELECT CAST(min(bsz) AS BIGINT) FROM hist, t
        |   WHERE cum * 100 >= n_buckets * 99) AS p99_bucket,
        |  t.n_saturated, t.vecs_in_saturated,
        |  (t.vecs_in_saturated * 1000000) // t.n_vecs AS saturation_ppm
        |FROM t""".stripMargin,

    // plane-count recall ladder: 32-bit signature prefixes nest, so one
    // signature pass serves every plane count; recall gated as exact
    // integer ppm, cost as the sum of squared bucket sizes
    "q_plane_sweep" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(e AS DOUBLE) AS e, i FROM (
        |    SELECT vec_id, unnest(embedding) AS e,
        |      generate_subscripts(embedding, 1) AS i
        |    FROM embeddings)),
        |dots AS (
        |  SELECT vec_id, p,
        |    sum((strpos('0123456789abcdef',
        |           substr(md5('hp|' || CAST(i AS VARCHAR)), CAST(p AS INTEGER), 1)) - 8.5) * e) AS dot
        |  FROM comp, (SELECT unnest(range(1, 33)) AS p) planes
        |  GROUP BY vec_id, p),
        |sig AS MATERIALIZED (
        |  SELECT vec_id,
        |    string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
        |  FROM dots GROUP BY vec_id),
        |sv AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, s.sig
        |       FROM embeddings e JOIN sig s USING (vec_id)
        |       WHERE len(e.embedding) > 0),
        |corpus AS (SELECT * FROM sv WHERE vec_id >= 8),
        |q AS (SELECT vec_id AS query_id, v AS qv, sig AS qsig
        |      FROM sv WHERE vec_id < 8),
        |ranked AS (
        |  SELECT query_id, c.sig AS sig, q.qsig AS qsig,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(list_cosine_similarity(c.v, q.qv), 6) DESC,
        |               c.vec_id) AS rnk
        |  FROM corpus c CROSS JOIN q),
        |topk AS MATERIALIZED (SELECT * FROM ranked WHERE rnk <= 10),
        |ps AS (SELECT CAST(unnest([4, 6, 8, 10, 12]) AS INTEGER) AS planes),
        |rec AS (
        |  SELECT planes,
        |    CAST(sum(CASE WHEN substr(sig, 1, planes) = substr(qsig, 1, planes)
        |             THEN 1 ELSE 0 END) AS BIGINT) AS hits
        |  FROM topk CROSS JOIN ps GROUP BY planes),
        |cost AS (
        |  SELECT planes, count(*) AS n_buckets,
        |    CAST(sum(cnt * cnt) AS BIGINT) AS candidate_sum_sq,
        |    CAST(max(cnt) AS BIGINT) AS max_bucket
        |  FROM (SELECT planes, substr(sig, 1, planes) AS pref, count(*) AS cnt
        |        FROM corpus CROSS JOIN ps GROUP BY planes, pref)
        |  GROUP BY planes)
        |SELECT CAST(r.planes AS BIGINT) AS planes, r.hits,
        |  (r.hits * 1000000) // 80 AS recall_ppm,
        |  c.n_buckets, c.candidate_sum_sq, c.max_bucket
        |FROM rec r JOIN cost c USING (planes)
        |ORDER BY planes""".stripMargin,

    // replays knnGraph EXACTLY, including the default multi-probe
    // compensation: nodes in saturated buckets (|b| > cap=256) also
    // probe every Hamming-1 flipped-signature bucket — at gate scale no
    // bucket saturates, but the oracle must model the ENGINE, not the
    // gated corpus, or the first skewed corpus silently decouples them
    "q_knn_graph" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(e AS DOUBLE) AS e, i FROM (
        |    SELECT vec_id, unnest(embedding) AS e,
        |      generate_subscripts(embedding, 1) AS i
        |    FROM embeddings)),
        |tot AS (SELECT count(DISTINCT vec_id) AS n_tot FROM comp),
        |pl AS (SELECT coalesce(min(p), 32) AS planes
        |       FROM range(1, 33) r(p), tot
        |       WHERE (CAST(1 AS BIGINT) << p) * 32 >= n_tot),
        |dots AS (
        |  SELECT vec_id, p,
        |    sum((strpos('0123456789abcdef',
        |           substr(md5('hp|' || CAST(i AS VARCHAR)), CAST(p AS INTEGER), 1)) - 8.5) * e) AS dot
        |  FROM comp, (SELECT unnest(range(1, 33)) AS p) planes
        |  GROUP BY vec_id, p),
        |sig AS MATERIALIZED (
        |  SELECT vec_id,
        |    substr(string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
        |                      ORDER BY p),
        |           1, (SELECT CAST(planes AS INTEGER) FROM pl)) AS sig
        |  FROM dots GROUP BY vec_id),
        |sv AS MATERIALIZED (
        |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, s.sig
        |  FROM embeddings e JOIN sig s USING (vec_id)
        |  WHERE len(e.embedding) > 0),
        |bsz AS (SELECT sig, count(*) AS bsz FROM sv GROUP BY sig),
        |rhs AS (SELECT sig, vec_id, v FROM (
        |          SELECT sig, vec_id, v,
        |            row_number() OVER (PARTITION BY sig ORDER BY vec_id) AS rk
        |          FROM sv) WHERE rk <= 256),
        |flips AS (
        |  SELECT s.vec_id, s.sig,
        |    unnest(range(1, len(s.sig) + 1)) AS p
        |  FROM sv s JOIN bsz USING (sig) WHERE bsz > 256),
        |probes AS MATERIALIZED (
        |  SELECT vec_id, sig AS psig FROM sv
        |  UNION ALL
        |  SELECT vec_id,
        |    substr(sig, 1, CAST(p AS INTEGER) - 1)
        |    || (CASE WHEN substr(sig, CAST(p AS INTEGER), 1) = '1'
        |             THEN '0' ELSE '1' END)
        |    || substr(sig, CAST(p AS INTEGER) + 1) AS psig
        |  FROM flips),
        |cand AS MATERIALIZED (
        |  SELECT pr.vec_id AS a, y.vec_id AS b,
        |    round(list_cosine_similarity(x.v, y.v), 6) AS cos
        |  FROM probes pr
        |  JOIN sv x ON x.vec_id = pr.vec_id
        |  JOIN rhs y ON y.sig = pr.psig AND pr.vec_id <> y.vec_id),
        |nc AS (SELECT a, count(*) AS n_cand FROM cand GROUP BY a),
        |rnk AS (SELECT *, row_number() OVER (PARTITION BY a
        |          ORDER BY cos DESC, b) AS rn FROM cand),
        |knn AS (SELECT a, b, cos FROM rnk WHERE rn <= 5),
        |deg AS (SELECT a, count(*) AS knn_deg FROM knn GROUP BY a),
        |top1 AS (SELECT a, b AS nn_top, cos AS nn_top_cos FROM rnk WHERE rn = 1),
        |mut AS (SELECT k1.a, count(*) AS mutual_deg
        |        FROM knn k1 JOIN knn k2 ON k1.a = k2.b AND k1.b = k2.a
        |        GROUP BY k1.a)
        |SELECT s.vec_id,
        |  CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_cand,
        |  CAST(coalesce(deg.knn_deg, 0) AS BIGINT) AS knn_deg,
        |  CAST(coalesce(mut.mutual_deg, 0) AS BIGINT) AS mutual_deg,
        |  t.nn_top, t.nn_top_cos
        |FROM sv s LEFT JOIN nc ON s.vec_id = nc.a
        |LEFT JOIN deg ON s.vec_id = deg.a
        |LEFT JOIN top1 t ON s.vec_id = t.a
        |LEFT JOIN mut ON s.vec_id = mut.a
        |ORDER BY s.vec_id""".stripMargin,

    // knn graph with multi-probe compensation: nodes in saturated
    // buckets (|b| > cap=8 at gate scale) also probe every Hamming-1
    // flipped-signature bucket; same signature/flip/cap rules replayed
    "q_knn_compensated" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(e AS DOUBLE) AS e, i FROM (
        |    SELECT vec_id, unnest(embedding) AS e,
        |      generate_subscripts(embedding, 1) AS i
        |    FROM embeddings)),
        |tot AS (SELECT count(DISTINCT vec_id) AS n_tot FROM comp),
        |pl AS (SELECT coalesce(min(p), 32) AS planes
        |       FROM range(1, 33) r(p), tot
        |       WHERE (CAST(1 AS BIGINT) << p) * 32 >= n_tot),
        |dots AS (
        |  SELECT vec_id, p,
        |    sum((strpos('0123456789abcdef',
        |           substr(md5('hp|' || CAST(i AS VARCHAR)), CAST(p AS INTEGER), 1)) - 8.5) * e) AS dot
        |  FROM comp, (SELECT unnest(range(1, 33)) AS p) planes
        |  GROUP BY vec_id, p),
        |sig AS MATERIALIZED (
        |  SELECT vec_id,
        |    substr(string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
        |                      ORDER BY p),
        |           1, (SELECT CAST(planes AS INTEGER) FROM pl)) AS sig
        |  FROM dots GROUP BY vec_id),
        |sv AS MATERIALIZED (
        |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, s.sig
        |  FROM embeddings e JOIN sig s USING (vec_id)
        |  WHERE len(e.embedding) > 0),
        |bsz AS (SELECT sig, count(*) AS bsz FROM sv GROUP BY sig),
        |rhs AS (SELECT sig, vec_id, v FROM (
        |          SELECT sig, vec_id, v,
        |            row_number() OVER (PARTITION BY sig ORDER BY vec_id) AS rk
        |          FROM sv) WHERE rk <= 8),
        |flips AS (
        |  SELECT s.vec_id, s.sig,
        |    unnest(range(1, len(s.sig) + 1)) AS p
        |  FROM sv s JOIN bsz USING (sig) WHERE bsz > 8),
        |probes AS MATERIALIZED (
        |  SELECT vec_id, sig AS psig FROM sv
        |  UNION ALL
        |  SELECT vec_id,
        |    substr(sig, 1, CAST(p AS INTEGER) - 1)
        |    || (CASE WHEN substr(sig, CAST(p AS INTEGER), 1) = '1'
        |             THEN '0' ELSE '1' END)
        |    || substr(sig, CAST(p AS INTEGER) + 1) AS psig
        |  FROM flips),
        |np AS (SELECT vec_id, count(*) AS n_probes FROM probes GROUP BY 1),
        |cand AS MATERIALIZED (
        |  SELECT pr.vec_id AS a, y.vec_id AS b,
        |    round(list_cosine_similarity(x.v, y.v), 6) AS cos
        |  FROM probes pr
        |  JOIN sv x ON x.vec_id = pr.vec_id
        |  JOIN rhs y ON y.sig = pr.psig AND pr.vec_id <> y.vec_id),
        |nc AS (SELECT a, count(*) AS n_cand FROM cand GROUP BY a),
        |rnk AS (SELECT *, row_number() OVER (PARTITION BY a
        |          ORDER BY cos DESC, b) AS rn FROM cand),
        |knn AS (SELECT a, b, cos FROM rnk WHERE rn <= 5),
        |deg AS (SELECT a, count(*) AS knn_deg FROM knn GROUP BY a),
        |top1 AS (SELECT a, b AS nn_top, cos AS nn_top_cos FROM rnk WHERE rn = 1),
        |mut AS (SELECT k1.a, count(*) AS mutual_deg
        |        FROM knn k1 JOIN knn k2 ON k1.a = k2.b AND k1.b = k2.a
        |        GROUP BY k1.a)
        |SELECT s.vec_id,
        |  CAST(coalesce(np.n_probes, 0) AS BIGINT) AS n_probes,
        |  CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_cand,
        |  CAST(coalesce(deg.knn_deg, 0) AS BIGINT) AS knn_deg,
        |  CAST(coalesce(mut.mutual_deg, 0) AS BIGINT) AS mutual_deg,
        |  t.nn_top, t.nn_top_cos
        |FROM sv s LEFT JOIN np ON s.vec_id = np.vec_id
        |LEFT JOIN nc ON s.vec_id = nc.a
        |LEFT JOIN deg ON s.vec_id = deg.a
        |LEFT JOIN top1 t ON s.vec_id = t.a
        |LEFT JOIN mut ON s.vec_id = mut.a
        |ORDER BY s.vec_id""".stripMargin,

    // higher-order array functions (mirrors Similarity.arrayFuncs):
    // per-vector transform/filter/fold/zip_with feature pack
    "q_array_funcs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings)
        |SELECT vec_id,
        |  CAST(len(v) AS BIGINT) AS dim,
        |  CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
        |  round(list_sum(list_transform(v, x -> x * x)), 6) AS sum_sq,
        |  round(list_sum(list_transform(v,
        |    x -> least(greatest(x, -0.5), 0.5))) / len(v), 6) AS clipped_mean,
        |  len(list_filter(v, x -> abs(x) > 2.0)) > 0 AS has_big,
        |  round(list_dot_product(v, list_reverse(v)), 6) AS self_conv,
        |  round(list_max(v) - list_min(v), 6) AS rng
        |FROM e ORDER BY vec_id""".stripMargin,

    // centroid-form silhouette (mirrors Similarity.silhouette): flat
    // (vec,label,pos) distances to every label centroid
    "q_silhouette" ->
      """WITH flat AS (
        |  SELECT vec_id, label, CAST(i AS INTEGER) AS pos, CAST(x AS DOUBLE) AS x
        |  FROM (SELECT vec_id, label, unnest(embedding) AS x,
        |          generate_subscripts(embedding, 1) AS i
        |        FROM embeddings)),
        |cents AS (SELECT label AS clabel, pos, avg(x) AS c
        |          FROM flat GROUP BY label, pos),
        |d AS (SELECT vec_id, label, clabel, sum((x - c) * (x - c)) AS d2
        |      FROM flat JOIN cents USING (pos) GROUP BY vec_id, label, clabel),
        |ab AS (SELECT vec_id, label,
        |         sqrt(max(CASE WHEN clabel = label THEN d2 END)) AS a,
        |         sqrt(min(CASE WHEN clabel <> label THEN d2 END)) AS b
        |       FROM d GROUP BY vec_id, label)
        |SELECT label, count(*) AS n,
        |  round(avg((b - a) / greatest(a, b)), 6) AS mean_sil
        |FROM ab GROUP BY label ORDER BY label""".stripMargin,

    // JL projection replay: same md5 sign matrix, same 1e-5 integer
    // quantization before the signed sum, one divide + round after
    "q_jl_project" ->
      """WITH signs AS (
        |  SELECT i.i AS i0, j.j,
        |    CASE WHEN ('0x' || substr(md5('jl|' || i.i || '|' || j.j), 1, 8))::BIGINT
        |              % 2 = 0 THEN 1 ELSE -1 END AS s
        |  FROM (SELECT unnest(range(0, 256)) AS i) i
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS j) j),
        |cells AS (
        |  SELECT vec_id, i - 1 AS i0,
        |    CAST(round(CAST(e AS DOUBLE) * 100000) AS BIGINT) AS xq
        |  FROM (SELECT vec_id, unnest(embedding) AS e,
        |          generate_subscripts(embedding, 1) AS i
        |        FROM embeddings))
        |SELECT c.vec_id, s.j, round(sum(c.xq * s.s) / 100000.0 / sqrt(8.0), 6) AS y
        |FROM cells c JOIN signs s ON s.i0 = c.i0
        |GROUP BY c.vec_id, s.j
        |ORDER BY c.vec_id, s.j""".stripMargin,

    // distortion replay: same quantized cells, same projection CTE
    "q_jl_distortion" ->
      """WITH signs AS (
        |  SELECT i.i AS i0, j.j,
        |    CASE WHEN ('0x' || substr(md5('jl|' || i.i || '|' || j.j), 1, 8))::BIGINT
        |              % 2 = 0 THEN 1 ELSE -1 END AS s
        |  FROM (SELECT unnest(range(0, 256)) AS i) i
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS j) j),
        |cells AS (
        |  SELECT vec_id, i - 1 AS i0,
        |    CAST(round(CAST(e AS DOUBLE) * 100000) AS BIGINT) AS xq
        |  FROM (SELECT vec_id, unnest(embedding) AS e,
        |          generate_subscripts(embedding, 1) AS i
        |        FROM embeddings WHERE vec_id < 200)),
        |proj AS (
        |  SELECT c.vec_id, s.j, round(sum(c.xq * s.s) / 100000.0 / sqrt(8.0), 6) AS y
        |  FROM cells c JOIN signs s ON s.i0 = c.i0
        |  GROUP BY c.vec_id, s.j),
        |dorig AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    CAST(sum((x.xq - y.xq) * (x.xq - y.xq)) AS BIGINT) AS d2q
        |  FROM cells x JOIN cells y ON x.i0 = y.i0 AND x.vec_id < y.vec_id
        |  GROUP BY x.vec_id, y.vec_id),
        |projq AS (
        |  SELECT vec_id, j, CAST(round(y * 1e6) AS BIGINT) AS yq FROM proj),
        |dproj AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    CAST(sum((x.yq - y.yq) * (x.yq - y.yq)) AS BIGINT) AS p2q
        |  FROM projq x JOIN projq y ON x.j = y.j AND x.vec_id < y.vec_id
        |  GROUP BY x.vec_id, y.vec_id)
        |SELECT least(19, CAST(floor((p2q / 1e12) / (d2q / 1e10) * 10) AS BIGINT)) AS bucket,
        |  count(*) AS n_pairs
        |FROM dorig JOIN dproj USING (a, b)
        |WHERE d2q > 0
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    // PCA oracles are generated (power iteration unrolls a CTE pair per
    // step) — identical integer arithmetic replayed end-to-end
    "q_embed_cov" -> Pca.embedCovSql,
    "q_power_iter" -> Pca.powerIterSql(),
    "q_pca_topk" -> Pca.pcaTopKSql(),
    "q_pca_scores" -> Pca.pcaScoresSql(),
    "q_mmr_rerank" -> Similarity.mmrRerankSql(),
    "q_cov_drift" -> Pca.covDriftSql(),

    "q_centroids" ->
      """SELECT label, CAST(i AS INTEGER) AS pos,
        |  round(avg(CAST(e AS DOUBLE)), 6) AS centroid
        |FROM (SELECT label, unnest(embedding) AS e,
        |        generate_subscripts(embedding, 1) AS i
        |      FROM embeddings)
        |GROUP BY label, i
        |ORDER BY label, pos""".stripMargin,

    "q_stratified_sample" ->
      """SELECT event_type, CAST(rn AS INTEGER) AS rn, event_id, ts,
        |  round(value, 6) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |                                   ORDER BY ts, event_id) AS rn
        |      FROM events)
        |WHERE rn % 10 = 1
        |ORDER BY event_type, rn""".stripMargin,

    "q_outliers" ->
      """WITH t AS (SELECT event_type, round(quantile_cont(value, 0.99), 6) AS p99
        |           FROM events GROUP BY event_type)
        |SELECT e.event_type, e.event_id, round(e.value, 6) AS value, t.p99
        |FROM events e JOIN t ON e.event_type = t.event_type
        |WHERE e.value > t.p99
        |ORDER BY e.event_type, e.event_id""".stripMargin,

    "q_histogram" ->
      """SELECT event_type,
        |  CAST(least(floor(value / 10.0), 19.0) AS INTEGER) AS bucket,
        |  count(*) AS n,
        |  CAST(round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
        |    * 1e4 / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_value_q6
        |FROM events
        |GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,

    "q_doc_features" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','and','of','to','in'))) AS n_stop,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','and'))) AS s_en,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('el','la','los'))) AS s_es,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('le','les','et'))) AS s_fr,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('der','die','und'))) AS s_de,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  len(regexp_extract_all(text, '\p{L}+|[0-9]|[^\p{L}0-9 ]')) AS n_subtokens,
        |  CAST(round(CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens
        |    * 1e6) AS BIGINT) AS avg_word_len_q6,
        |  CAST(round(CAST(n_stop AS DOUBLE) / n_tokens * 1e6) AS BIGINT)
        |    AS stopword_ratio_q6,
        |  CAST(round(CAST(n_punct AS DOUBLE) / length(text) * 1e6) AS BIGINT)
        |    AS punct_ratio_q6,
        |  CAST(round((least(length(text) / 200.0, 1.0) * 0.5
        |      + least((CAST(n_stop AS DOUBLE) / n_tokens) * 5.0, 1.0) * 0.3
        |      + (1.0 - least((CAST(n_punct AS DOUBLE) / length(text)) * 10.0, 1.0)) * 0.2)
        |    * 1e6) AS BIGINT) AS quality_q6,
        |  CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en > 0 THEN 'en'
        |       WHEN s_es >= s_fr AND s_es >= s_de AND s_es > 0 THEN 'es'
        |       WHEN s_fr >= s_de AND s_fr > 0 THEN 'fr'
        |       WHEN s_de > 0 THEN 'de'
        |       ELSE 'unknown' END AS lang_pred,
        |  substr(md5(lower(text)), 1, 8) AS fp_bucket,
        |  CASE WHEN length(text) = 0 THEN 0 ELSE
        |    list_reduce(list_transform(range(1, length(text) + 1),
        |                  i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)),
        |                (a, b) -> (a * 31 + b) % 1000000007)
        |  END AS rhash
        |FROM f
        |ORDER BY doc_id""".stripMargin,

    "q_train_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(text), 1, 1) IN ('0','1') THEN 'val' ELSE 'train' END AS split,
        |  md5(norm) AS norm_fp,
        |  CAST(length(norm) AS INTEGER) AS norm_len
        |FROM (SELECT doc_id, text,
        |        trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
        |                            '\s+', ' ', 'g')) AS norm
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_quality_classifier" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','and','of','to','in'))) AS BIGINT) AS s,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |         AS BIGINT) AS p
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n, nc,
        |    CAST(-1000 * n * nc + 4000 * s * nc + 300 * (nc - n + 1) * nc
        |         - 8000 * p * n + 2 * n * n * nc AS BIGINT) AS L
        |  FROM f)
        |SELECT doc_id,
        |  CAST(round(CAST(L AS DOUBLE) / CAST(1000 * n * nc AS DOUBLE) * 1e6)
        |    AS BIGINT) AS logit_q6,
        |  CAST(CASE WHEN L > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m
        |ORDER BY doc_id""".stripMargin,

    "q_weighted_sample" ->
      """WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
        |m AS (SELECT min(n_src) AS n_min FROM c),
        |r AS (SELECT source, sqrt(CAST(n_min AS DOUBLE) / n_src) AS keep_rate
        |      FROM c, m)
        |SELECT d.doc_id, d.source, round(r.keep_rate, 6) AS keep_rate,
        |  CAST(CASE WHEN ('0x' || substr(md5('wsam|' || d.doc_id), 1, 8))::UBIGINT
        |                 / 4294967296.0 < r.keep_rate
        |       THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM documents d JOIN r USING (source)
        |ORDER BY d.doc_id""".stripMargin,

    "q_inverted_index" ->
      """WITH posts AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term,
        |         string_split(text, ' ') AS toks
        |  FROM documents)
        |SELECT term, doc_id,
        |  CAST(len(list_filter(toks, x -> x = term)) AS BIGINT) AS n_occ,
        |  CAST(list_position(toks, term) AS BIGINT) AS first_pos,
        |  count(*) OVER (PARTITION BY term) AS df
        |FROM posts
        |ORDER BY term, doc_id""".stripMargin,

    "q_lang_quota" ->
      """SELECT doc_id, lang, rk FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('lq|' || doc_id), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 30
        |ORDER BY lang, rk""".stripMargin,

    // UniMax waterfill (mirrors TextAnalysis.unimaxSample): the recursive
    // CTE replays the same ascending-capacity integer waterfill —
    // positive floor division on both sides, so allocations are exact
    "q_unimax" ->
      """WITH RECURSIVE
        |caps AS (SELECT lang, count(*) AS cap FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(cap) AS BIGINT) AS total, count(*) AS k
        |        FROM caps),
        |ranked AS (SELECT lang, cap,
        |             row_number() OVER (ORDER BY cap, lang) AS rn FROM caps),
        |fill AS (
        |  SELECT 0 AS rn, (SELECT total * 4 // 5 FROM tot) AS remaining
        |  UNION ALL
        |  SELECT f.rn + 1,
        |    f.remaining - least(r.cap, f.remaining // (t.k - f.rn))
        |  FROM fill f JOIN ranked r ON r.rn = f.rn + 1 CROSS JOIN tot t),
        |alloc AS (
        |  SELECT r.lang, least(r.cap, f.remaining // (t.k - f.rn)) AS alloc
        |  FROM ranked r JOIN fill f ON f.rn = r.rn - 1 CROSS JOIN tot t),
        |sel AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('ux|' || doc_id), doc_id) AS rk
        |  FROM documents)
        |SELECT s.doc_id, s.lang, CAST(s.rk AS BIGINT) AS rk, a.alloc
        |FROM sel s JOIN alloc a USING (lang)
        |WHERE s.rk <= a.alloc
        |ORDER BY s.lang, s.rk""".stripMargin,

    "q_compaction_plan" ->
      """WITH s AS (SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS bytes
        |           FROM documents GROUP BY source, lang),
        |c AS (SELECT source, lang, bytes,
        |        CAST(coalesce(sum(bytes) OVER (PARTITION BY source ORDER BY lang
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |          AS cum_before
        |      FROM s),
        |b AS (SELECT source, lang, bytes, CAST(cum_before // 4000 AS BIGINT) AS bin
        |      FROM c)
        |SELECT source, lang, bytes, bin,
        |  CAST(sum(bytes) OVER (PARTITION BY source, bin) AS BIGINT) AS bin_bytes
        |FROM b
        |ORDER BY source, lang""".stripMargin,

    "q_equidepth_bins" ->
      """WITH c AS (SELECT user_id, event_id,
        |             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |d AS (SELECT user_id, cents,
        |        CAST(ntile(10) OVER (PARTITION BY user_id
        |          ORDER BY cents, event_id) AS BIGINT) AS decile
        |      FROM c)
        |SELECT user_id, decile, count(*) AS n,
        |  min(cents) AS lo_cents, max(cents) AS hi_cents,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM d
        |GROUP BY user_id, decile
        |ORDER BY user_id, decile""".stripMargin,

    "q_length_buckets" ->
      """WITH t AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (SELECT n_tokens,
        |        CASE WHEN n_tokens <= 1 THEN 1
        |             ELSE CAST(1 << length(to_base(n_tokens - 1, 2)) AS BIGINT)
        |        END AS bucket
        |      FROM t)
        |SELECT bucket, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(bucket * count(*) - sum(n_tokens) AS BIGINT) AS padding_tokens
        |FROM b
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,

    "q_exact_variance" ->
      """WITH m AS (
        |  SELECT user_id, count(*) AS n,
        |    CAST(sum(c) AS BIGINT) AS sum_cents,
        |    CAST(sum(c * c) AS BIGINT) AS sumsq_cents
        |  FROM (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS c FROM events)
        |  GROUP BY user_id)
        |SELECT user_id, n, sum_cents,
        |  CAST(round(CAST(n * sumsq_cents - sum_cents * sum_cents AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE) / 10000.0 * 1e6) AS BIGINT)
        |    AS var_value_q6
        |FROM m
        |WHERE n >= 2
        |ORDER BY user_id""".stripMargin,

    // the MV replay's final state must equal the ONE-SHOT aggregate no
    // matter how the stream was batched or which batches were retried —
    // that algebraic identity IS the oracle; n_gens pins that retries
    // overwrote their generation rather than appending a sixth
    "q_mv_replay" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(epoch_us(ts)) AS first_us,
        |  max(epoch_us(ts)) AS last_us,
        |  CAST(5 AS BIGINT) AS n_gens
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q_incremental_agg" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(epoch_us(ts)) AS first_us,
        |  max(epoch_us(ts)) AS last_us
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q_corpus_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  round(avg(n_chars), 6) AS avg_chars,
        |  round(avg(len(string_split(text, ' '))), 6) AS avg_tokens,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS byte_len,
        |  sha256(text) AS checksum,
        |  upper(hex(encode(substr(text, 1, 4)))) AS magic,
        |  CAST(n_chars % 640 + 1 AS INTEGER) AS width,
        |  CAST(n_chars % 480 + 1 AS INTEGER) AS height
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_decode_features" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS byte_len,
        |  CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'png' ELSE 'jpg' END AS format,
        |  CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
        |  CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height,
        |  sha256(text) AS checksum,
        |  octet_length(encode(regexp_replace(text, '(.)(.{0,7})', '\1', 'g'))) AS thumb_len,
        |  sha256(regexp_replace(text, '(.)(.{0,7})', '\1', 'g')) AS thumb_checksum
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_frame_sample" ->
      """SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
        |  hex(encode(substr(text, CAST(i * 128 + 1 AS INTEGER), 64))) AS frame_hex
        |FROM (SELECT doc_id, text,
        |        unnest(range(0, greatest(octet_length(encode(text)) // 128, 1))) AS i
        |      FROM documents)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // closed-form replay of the BMP generator formulas over the pixel
    // grid — zero byte-level work, so it verifies the engine's header
    // parse, row stride, and bottom-up pixel walk independently
    "q_bmp_decode" ->
      """SELECT d.doc_id,
        |  max(d.doc_id % 16 + 1) AS width,
        |  max(d.doc_id % 12 + 1) AS height,
        |  count(*) AS n_px,
        |  CAST(sum((d.doc_id + x.x * 7 + y.y * 13) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((d.doc_id * 2 + x.x * 5 + y.y * 11) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((d.doc_id * 3 + x.x * 3 + y.y * 17) % 256) AS BIGINT) AS sum_b,
        |  CAST(sum((y.y * (d.doc_id % 16 + 1) + x.x + 1)
        |           * ((d.doc_id + x.x * 7 + y.y * 13) % 256)) AS BIGINT) AS wsum_r
        |FROM documents d
        |CROSS JOIN (SELECT unnest(range(0, 16)) AS x) x
        |CROSS JOIN (SELECT unnest(range(0, 12)) AS y) y
        |WHERE d.doc_id < 2000
        |  AND x.x < d.doc_id % 16 + 1 AND y.y < d.doc_id % 12 + 1
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // closed-form thumbnail replay: same generator formulas, grouped
    // into 2x2 cells, integer floor-division averages
    "q_bmp_thumb" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |    (d.doc_id % 16 + 1) AS w, (d.doc_id % 12 + 1) AS h,
        |    x.x // 2 AS cx, y.y // 2 AS cy,
        |    (d.doc_id + x.x * 7 + y.y * 13) % 256 AS r,
        |    (d.doc_id * 2 + x.x * 5 + y.y * 11) % 256 AS g,
        |    (d.doc_id * 3 + x.x * 3 + y.y * 17) % 256 AS b
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS x) x
        |  CROSS JOIN (SELECT unnest(range(0, 12)) AS y) y
        |  WHERE d.doc_id < 2000
        |    AND x.x < d.doc_id % 16 + 1 AND y.y < d.doc_id % 12 + 1),
        |cells AS (
        |  SELECT doc_id, max(w) AS w, max(h) AS h, cy, cx,
        |    sum(r) // count(*) AS ar, sum(g) // count(*) AS ag,
        |    sum(b) // count(*) AS ab
        |  FROM px GROUP BY doc_id, cy, cx)
        |SELECT doc_id,
        |  CAST(max((w + 1) // 2) AS BIGINT) AS out_w,
        |  CAST(max((h + 1) // 2) AS BIGINT) AS out_h,
        |  count(*) AS n_cells,
        |  CAST(sum(ar) AS BIGINT) AS tsum_r,
        |  CAST(sum(ag) AS BIGINT) AS tsum_g,
        |  CAST(sum(ab) AS BIGINT) AS tsum_b,
        |  CAST(sum((cy * ((w + 1) // 2) + cx + 1) * ar) AS BIGINT) AS twsum_r
        |FROM cells GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // dHash near-dup census: generated oracle shares the bit-index
    // loops with the Spark pack (Multimodal.imagePhashSql)
    "q_image_phash" -> Multimodal.imagePhashSql(),

    // closed-form replay of the WAV sample formula: signed value
    // reconstruction, data-size-driven sample count — no byte work
    "q_wav_decode" ->
      """SELECT d.doc_id,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  count(*) AS n_samples,
        |  CAST(sum((d.doc_id * 31 + i.i * 97) % 2048 - 1024) AS BIGINT) AS sum_s,
        |  CAST(sum(abs((d.doc_id * 31 + i.i * 97) % 2048 - 1024)) AS BIGINT) AS sum_abs,
        |  CAST(max(abs((d.doc_id * 31 + i.i * 97) % 2048 - 1024)) AS BIGINT) AS max_abs,
        |  CAST(sum(((d.doc_id * 31 + i.i * 97) % 2048 - 1024)
        |           * ((d.doc_id * 31 + i.i * 97) % 2048 - 1024)) AS BIGINT) AS sum_sq
        |FROM documents d
        |CROSS JOIN (SELECT unnest(range(0, 80)) AS i) i
        |WHERE d.doc_id < 2000 AND i.i < d.doc_id % 64 + 16
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // closed-form frame replay: 20-sample frames from the generator
    // formula, loudest frame via a deterministic rank
    "q_wav_frames" ->
      """WITH s AS (
        |  SELECT d.doc_id, i.i // 20 AS frame,
        |    ((d.doc_id * 31 + i.i * 97) % 2048 - 1024) AS s
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(range(0, 80)) AS i) i
        |  WHERE d.doc_id < 2000 AND i.i < d.doc_id % 64 + 16),
        |f AS (SELECT doc_id, frame, CAST(sum(s * s) AS BIGINT) AS e,
        |             CAST(max(abs(s)) AS BIGINT) AS peak
        |      FROM s GROUP BY doc_id, frame),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY e DESC, frame) AS rn,
        |        count(*) OVER (PARTITION BY doc_id) AS n_frames,
        |        sum(e) OVER (PARTITION BY doc_id) AS sum_energy
        |      FROM f)
        |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(sum_energy AS BIGINT) AS sum_energy,
        |  frame AS top_frame, e AS top_energy, peak AS top_peak
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // same planted-marker injection, RE2-compatible patterns, 'g' flag
    "q_pii_scan" ->
      """WITH t AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(length(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(length(regexp_extract_all(text,
        |    '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS redacted_md5,
        |  CAST(length(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + length(regexp_extract_all(text,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |    + length(regexp_extract_all(text,
        |      '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_pii
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_pii_summary" ->
      """WITH t AS (
        |  SELECT doc_id, source, text ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         ELSE '' END AS text
        |  FROM documents),
        |c AS (SELECT source,
        |  CAST(length(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS e,
        |  CAST(length(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS i,
        |  CAST(length(regexp_extract_all(text,
        |    '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS p
        |  FROM t)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN e + i + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_with_pii,
        |  CAST(sum(e) AS BIGINT) AS n_emails,
        |  CAST(sum(i) AS BIGINT) AS n_ips,
        |  CAST(sum(p) AS BIGINT) AS n_phones
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // two-snapshot incremental-transfer census: CDC vs fixed-width
    // chunking on the same planted edit — upload_ppm is the story
    "q_cdc_incremental" -> graft.ops.Prep.cdcIncrementalSql,

    // content-defined chunking: Gear rolling hash over the trailing 31
    // chars (per-term masked mod 2^31 — DuckDB BIGINT overflow throws),
    // cut where the low 6 bits are zero; chunk census dedups fingerprints
    "q_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        |           FROM documents WHERE length(text) > 0),
        |g AS (SELECT doc_id, text, n,
        |  list_transform(range(1, CAST(n + 1 AS BIGINT)), i ->
        |    ('0x' || substr(md5('gear|' || substr(text, CAST(i AS INTEGER), 1)),
        |             1, 8))::BIGINT & 2147483647) AS garr
        |  FROM t),
        |c AS (SELECT doc_id, text, n,
        |  list_filter(range(31, CAST(n + 1 AS BIGINT)), i ->
        |    ((list_sum(list_transform(range(0, 31), k ->
        |        (garr[CAST(i - k AS INTEGER)]
        |         * (CAST(1 AS BIGINT) << CAST(k AS INTEGER))) & 2147483647))
        |      & 2147483647) & 63) = 0) AS cuts
        |  FROM g),
        |s AS (SELECT doc_id, text,
        |        list_prepend(CAST(0 AS BIGINT), cuts) AS st,
        |        list_append(cuts, n) AS en
        |      FROM c),
        |ch AS (SELECT doc_id, text,
        |         unnest(range(1, CAST(len(st) + 1 AS BIGINT))) AS j, st, en
        |       FROM s)
        |SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_idx,
        |  st[CAST(j AS INTEGER)] AS start_pos,
        |  en[CAST(j AS INTEGER)] - st[CAST(j AS INTEGER)] AS chunk_len,
        |  md5(substr(text, CAST(st[CAST(j AS INTEGER)] + 1 AS INTEGER),
        |      CAST(en[CAST(j AS INTEGER)] - st[CAST(j AS INTEGER)] AS INTEGER)))
        |    AS chunk_md5
        |FROM ch
        |WHERE en[CAST(j AS INTEGER)] > st[CAST(j AS INTEGER)]
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_cdc_dedup" ->
      """WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        |           FROM documents WHERE length(text) > 0),
        |g AS (SELECT doc_id, text, n,
        |  list_transform(range(1, CAST(n + 1 AS BIGINT)), i ->
        |    ('0x' || substr(md5('gear|' || substr(text, CAST(i AS INTEGER), 1)),
        |             1, 8))::BIGINT & 2147483647) AS garr
        |  FROM t),
        |c AS (SELECT doc_id, text, n,
        |  list_filter(range(31, CAST(n + 1 AS BIGINT)), i ->
        |    ((list_sum(list_transform(range(0, 31), k ->
        |        (garr[CAST(i - k AS INTEGER)]
        |         * (CAST(1 AS BIGINT) << CAST(k AS INTEGER))) & 2147483647))
        |      & 2147483647) & 63) = 0) AS cuts
        |  FROM g),
        |s AS (SELECT doc_id, text,
        |        list_prepend(CAST(0 AS BIGINT), cuts) AS st,
        |        list_append(cuts, n) AS en
        |      FROM c),
        |ch AS (SELECT doc_id, text,
        |         unnest(range(1, CAST(len(st) + 1 AS BIGINT))) AS j, st, en
        |       FROM s),
        |rows0 AS (
        |  SELECT md5(substr(text, CAST(st[CAST(j AS INTEGER)] + 1 AS INTEGER),
        |           CAST(en[CAST(j AS INTEGER)] - st[CAST(j AS INTEGER)]
        |                AS INTEGER))) AS chunk_md5,
        |    en[CAST(j AS INTEGER)] - st[CAST(j AS INTEGER)] AS chunk_len
        |  FROM ch WHERE en[CAST(j AS INTEGER)] > st[CAST(j AS INTEGER)]),
        |per AS (SELECT chunk_md5, count(*) AS refs, min(chunk_len) AS clen
        |        FROM rows0 GROUP BY chunk_md5)
        |SELECT CAST(sum(refs) AS BIGINT) AS n_chunks,
        |  count(*) AS n_distinct,
        |  CAST(sum(refs) - count(*) AS BIGINT) AS dup_chunks,
        |  CAST(sum(refs * clen) AS BIGINT) AS chars_total,
        |  CAST(sum(clen) AS BIGINT) AS chars_unique,
        |  CAST(sum(refs * clen) - sum(clen) AS BIGINT) AS chars_saved
        |FROM per""".stripMargin,

    // concat-and-chop packing: same (lang, shard) cumsum, same bin cut
    "q_pack_bins" ->
      """WITH t AS (
        |  SELECT doc_id, lang, doc_id % 8 AS shard,
        |    CAST(length(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents),
        |c AS (SELECT *, sum(tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM t)
        |SELECT lang, shard, CAST((cum - tok) // 512 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tok_sum,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  CAST((sum(tok) * 1000000) // 512 AS BIGINT) AS fill_ppm
        |FROM c GROUP BY lang, shard, bin
        |ORDER BY lang, shard, bin""".stripMargin,

    "q_chunk_chars" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(length(substr(text, CAST(i * 150 + 1 AS INTEGER), 200)) AS BIGINT)
        |    AS chunk_len,
        |  md5(substr(text, CAST(i * 150 + 1 AS INTEGER), 200)) AS chunk_md5
        |FROM (SELECT doc_id, text,
        |        unnest(range(0, (n_chars - 1) // 150 + 1)) AS i
        |      FROM documents WHERE n_chars > 0)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // integer micro-unit PageRank: every step is integer division /
    // integer sums, so ranks are bit-identical across engines
    "q_pagerank" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |bi AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, count(*) AS d FROM bi GROUP BY src),
        |adj AS (SELECT bi.src, bi.dst, deg.d FROM bi JOIN deg USING (src)),
        |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg),
        |r1 AS (SELECT adj.dst AS node,
        |         CAST(150000 + (85 * sum(r.pr // adj.d)) // 100 AS BIGINT) AS pr
        |       FROM adj JOIN r0 r ON adj.src = r.node GROUP BY adj.dst),
        |r2 AS (SELECT adj.dst AS node,
        |         CAST(150000 + (85 * sum(r.pr // adj.d)) // 100 AS BIGINT) AS pr
        |       FROM adj JOIN r1 r ON adj.src = r.node GROUP BY adj.dst),
        |r3 AS (SELECT adj.dst AS node,
        |         CAST(150000 + (85 * sum(r.pr // adj.d)) // 100 AS BIGINT) AS pr
        |       FROM adj JOIN r2 r ON adj.src = r.node GROUP BY adj.dst)
        |SELECT node, pr FROM r3 ORDER BY node""".stripMargin,

    // two unrolled Lloyd rounds over integer-quantized vectors; all
    // iteration state is BIGINT so the trajectory is engine-exact
    "q_ivf_kmeans" ->
      """WITH ev AS (
        |  SELECT vec_id, pos, CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS qx
        |  FROM (SELECT vec_id, unnest(embedding) AS x,
        |               generate_subscripts(embedding, 1) AS pos
        |        FROM embeddings)),
        |c0 AS (SELECT vec_id AS centroid_id, pos, qx AS cx FROM ev WHERE vec_id < 8),
        |a0 AS (SELECT vec_id, centroid_id FROM (
        |  SELECT ev.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY ev.vec_id
        |      ORDER BY sum((ev.qx - c.cx) * (ev.qx - c.cx)), c.centroid_id) AS rnk
        |  FROM ev JOIN c0 c ON ev.pos = c.pos
        |  GROUP BY ev.vec_id, c.centroid_id) WHERE rnk = 1),
        |u1 AS (SELECT a.centroid_id, ev.pos, CAST(round(avg(ev.qx)) AS BIGINT) AS ux
        |       FROM a0 a JOIN ev ON a.vec_id = ev.vec_id
        |       GROUP BY a.centroid_id, ev.pos),
        |c1 AS (SELECT c.centroid_id, c.pos, COALESCE(u.ux, c.cx) AS cx
        |       FROM c0 c LEFT JOIN u1 u
        |         ON c.centroid_id = u.centroid_id AND c.pos = u.pos),
        |a1 AS (SELECT vec_id, centroid_id FROM (
        |  SELECT ev.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY ev.vec_id
        |      ORDER BY sum((ev.qx - c.cx) * (ev.qx - c.cx)), c.centroid_id) AS rnk
        |  FROM ev JOIN c1 c ON ev.pos = c.pos
        |  GROUP BY ev.vec_id, c.centroid_id) WHERE rnk = 1),
        |u2 AS (SELECT a.centroid_id, ev.pos, CAST(round(avg(ev.qx)) AS BIGINT) AS ux
        |       FROM a1 a JOIN ev ON a.vec_id = ev.vec_id
        |       GROUP BY a.centroid_id, ev.pos),
        |c2 AS (SELECT c.centroid_id, c.pos, COALESCE(u.ux, c.cx) AS cx
        |       FROM c1 c LEFT JOIN u2 u
        |         ON c.centroid_id = u.centroid_id AND c.pos = u.pos)
        |SELECT vec_id, centroid_id, dist2 FROM (
        |  SELECT ev.vec_id, c.centroid_id,
        |    CAST(sum((ev.qx - c.cx) * (ev.qx - c.cx)) AS BIGINT) AS dist2,
        |    row_number() OVER (PARTITION BY ev.vec_id
        |      ORDER BY sum((ev.qx - c.cx) * (ev.qx - c.cx)), c.centroid_id) AS rnk
        |  FROM ev JOIN c2 c ON ev.pos = c.pos
        |  GROUP BY ev.vec_id, c.centroid_id) WHERE rnk = 1
        |ORDER BY vec_id""".stripMargin,

    // IVF maintenance: stale index trained on the base half, delta
    // occupancy drift in ppm, global re-train trigger at 20000 ppm,
    // post-maintenance occupancy after one full-corpus Lloyd update.
    // Window sums CAST to BIGINT (sum(BIGINT) is HUGEINT in DuckDB —
    // the q_pack_bins type-family class).
    "q_ivf_maintenance" ->
      """WITH ev AS (
        |  SELECT vec_id, pos, CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS qx
        |  FROM (SELECT vec_id, unnest(embedding) AS x,
        |               generate_subscripts(embedding, 1) AS pos
        |        FROM embeddings)),
        |hk AS (SELECT (max(vec_id) + 1) // 2 AS half FROM embeddings),
        |base AS (SELECT ev.* FROM ev, hk WHERE ev.vec_id < hk.half),
        |delta AS (SELECT ev.* FROM ev, hk WHERE ev.vec_id >= hk.half),
        |seeds AS (SELECT vec_id AS centroid_id, pos, qx AS cx
        |          FROM base WHERE vec_id < 8),
        |a0 AS (SELECT vec_id, centroid_id FROM (
        |  SELECT b.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY b.vec_id
        |      ORDER BY sum((b.qx - c.cx) * (b.qx - c.cx)), c.centroid_id) AS rnk
        |  FROM base b JOIN seeds c ON b.pos = c.pos
        |  GROUP BY b.vec_id, c.centroid_id) WHERE rnk = 1),
        |u0 AS (SELECT a.centroid_id, b.pos, CAST(round(avg(b.qx)) AS BIGINT) AS ux
        |       FROM a0 a JOIN base b ON a.vec_id = b.vec_id
        |       GROUP BY a.centroid_id, b.pos),
        |cb AS (SELECT c.centroid_id, c.pos, COALESCE(u.ux, c.cx) AS cx
        |       FROM seeds c LEFT JOIN u0 u
        |         ON c.centroid_id = u.centroid_id AND c.pos = u.pos),
        |ob AS (SELECT centroid_id, count(*) AS n_base FROM (
        |  SELECT b.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY b.vec_id
        |      ORDER BY sum((b.qx - c.cx) * (b.qx - c.cx)), c.centroid_id) AS rnk
        |  FROM base b JOIN cb c ON b.pos = c.pos
        |  GROUP BY b.vec_id, c.centroid_id) WHERE rnk = 1 GROUP BY centroid_id),
        |od AS (SELECT centroid_id, count(*) AS n_delta FROM (
        |  SELECT d.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY d.vec_id
        |      ORDER BY sum((d.qx - c.cx) * (d.qx - c.cx)), c.centroid_id) AS rnk
        |  FROM delta d JOIN cb c ON d.pos = c.pos
        |  GROUP BY d.vec_id, c.centroid_id) WHERE rnk = 1 GROUP BY centroid_id),
        |af AS (SELECT vec_id, centroid_id FROM (
        |  SELECT e.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY sum((e.qx - c.cx) * (e.qx - c.cx)), c.centroid_id) AS rnk
        |  FROM ev e JOIN cb c ON e.pos = c.pos
        |  GROUP BY e.vec_id, c.centroid_id) WHERE rnk = 1),
        |uf AS (SELECT a.centroid_id, e.pos, CAST(round(avg(e.qx)) AS BIGINT) AS ux
        |       FROM af a JOIN ev e ON a.vec_id = e.vec_id
        |       GROUP BY a.centroid_id, e.pos),
        |cn AS (SELECT c.centroid_id, c.pos, COALESCE(u.ux, c.cx) AS cx
        |       FROM cb c LEFT JOIN uf u
        |         ON c.centroid_id = u.centroid_id AND c.pos = u.pos),
        |op AS (SELECT centroid_id, count(*) AS n_post FROM (
        |  SELECT e.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY sum((e.qx - c.cx) * (e.qx - c.cx)), c.centroid_id) AS rnk
        |  FROM ev e JOIN cn c ON e.pos = c.pos
        |  GROUP BY e.vec_id, c.centroid_id) WHERE rnk = 1 GROUP BY centroid_id),
        |occ AS (
        |  SELECT i.centroid_id,
        |    COALESCE(ob.n_base, 0) AS n_base,
        |    COALESCE(od.n_delta, 0) AS n_delta,
        |    COALESCE(op.n_post, 0) AS n_post
        |  FROM (SELECT DISTINCT centroid_id FROM cb) i
        |  LEFT JOIN ob ON i.centroid_id = ob.centroid_id
        |  LEFT JOIN od ON i.centroid_id = od.centroid_id
        |  LEFT JOIN op ON i.centroid_id = op.centroid_id),
        |sh AS (
        |  SELECT centroid_id, n_base, n_delta, n_post,
        |    n_base * 1000000 // CAST(sum(n_base) OVER () AS BIGINT) AS base_ppm,
        |    n_delta * 1000000 // CAST(sum(n_delta) OVER () AS BIGINT) AS delta_ppm
        |  FROM occ)
        |SELECT centroid_id, n_base, n_delta, base_ppm, delta_ppm,
        |  abs(delta_ppm - base_ppm) AS drift_ppm,
        |  CAST(max(abs(delta_ppm - base_ppm)) OVER () AS BIGINT) > 20000 AS retrain,
        |  n_post
        |FROM sh ORDER BY centroid_id""".stripMargin,

    // Recall@10 of 2-probe IVF search under stale vs retrained
    // centroids for 8 delta queries; exact integer-L2 ground truth.
    "q_ivf_retrain_gain" ->
      """WITH ev AS (
        |  SELECT vec_id, pos, CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS qx
        |  FROM (SELECT vec_id, unnest(embedding) AS x,
        |               generate_subscripts(embedding, 1) AS pos
        |        FROM embeddings)),
        |hk AS (SELECT (max(vec_id) + 1) // 2 AS half FROM embeddings),
        |base AS (SELECT ev.* FROM ev, hk WHERE ev.vec_id < hk.half),
        |seeds AS (SELECT vec_id AS centroid_id, pos, qx AS cx
        |          FROM base WHERE vec_id < 8),
        |a0 AS (SELECT vec_id, centroid_id FROM (
        |  SELECT b.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY b.vec_id
        |      ORDER BY sum((b.qx - c.cx) * (b.qx - c.cx)), c.centroid_id) AS rnk
        |  FROM base b JOIN seeds c ON b.pos = c.pos
        |  GROUP BY b.vec_id, c.centroid_id) WHERE rnk = 1),
        |u0 AS (SELECT a.centroid_id, b.pos, CAST(round(avg(b.qx)) AS BIGINT) AS ux
        |       FROM a0 a JOIN base b ON a.vec_id = b.vec_id
        |       GROUP BY a.centroid_id, b.pos),
        |cb AS (SELECT c.centroid_id, c.pos, COALESCE(u.ux, c.cx) AS cx
        |       FROM seeds c LEFT JOIN u0 u
        |         ON c.centroid_id = u.centroid_id AND c.pos = u.pos),
        |af AS (SELECT vec_id, centroid_id FROM (
        |  SELECT e.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY sum((e.qx - c.cx) * (e.qx - c.cx)), c.centroid_id) AS rnk
        |  FROM ev e JOIN cb c ON e.pos = c.pos
        |  GROUP BY e.vec_id, c.centroid_id) WHERE rnk = 1),
        |uf AS (SELECT a.centroid_id, e.pos, CAST(round(avg(e.qx)) AS BIGINT) AS ux
        |       FROM af a JOIN ev e ON a.vec_id = e.vec_id
        |       GROUP BY a.centroid_id, e.pos),
        |cn AS (SELECT c.centroid_id, c.pos, COALESCE(u.ux, c.cx) AS cx
        |       FROM cb c LEFT JOIN uf u
        |         ON c.centroid_id = u.centroid_id AND c.pos = u.pos),
        |q AS (SELECT vec_id AS qid, pos, qx AS qqx FROM ev, hk
        |      WHERE vec_id >= half AND vec_id < half + 8),
        |pd AS (SELECT q.qid, e.vec_id,
        |         CAST(sum((e.qx - q.qqx) * (e.qx - q.qqx)) AS BIGINT) AS d2
        |       FROM ev e JOIN q ON e.pos = q.pos WHERE e.vec_id <> q.qid
        |       GROUP BY q.qid, e.vec_id),
        |gt AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rnk
        |  FROM pd) WHERE rnk <= 10),
        |acb AS (SELECT vec_id, centroid_id FROM af),
        |acn AS (SELECT vec_id, centroid_id FROM (
        |  SELECT e.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY sum((e.qx - c.cx) * (e.qx - c.cx)), c.centroid_id) AS rnk
        |  FROM ev e JOIN cn c ON e.pos = c.pos
        |  GROUP BY e.vec_id, c.centroid_id) WHERE rnk = 1),
        |qpb AS (SELECT qid, centroid_id FROM (
        |  SELECT q.qid, c.centroid_id,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY sum((q.qqx - c.cx) * (q.qqx - c.cx)), c.centroid_id) AS rnk
        |  FROM q JOIN cb c ON q.pos = c.pos
        |  GROUP BY q.qid, c.centroid_id) WHERE rnk <= 2),
        |qpn AS (SELECT qid, centroid_id FROM (
        |  SELECT q.qid, c.centroid_id,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY sum((q.qqx - c.cx) * (q.qqx - c.cx)), c.centroid_id) AS rnk
        |  FROM q JOIN cn c ON q.pos = c.pos
        |  GROUP BY q.qid, c.centroid_id) WHERE rnk <= 2),
        |topb AS (SELECT qid, vec_id FROM (
        |  SELECT pd.qid, pd.vec_id,
        |    row_number() OVER (PARTITION BY pd.qid ORDER BY pd.d2, pd.vec_id) AS rnk
        |  FROM pd JOIN acb a ON pd.vec_id = a.vec_id
        |  JOIN qpb p ON pd.qid = p.qid AND a.centroid_id = p.centroid_id)
        |  WHERE rnk <= 10),
        |topn AS (SELECT qid, vec_id FROM (
        |  SELECT pd.qid, pd.vec_id,
        |    row_number() OVER (PARTITION BY pd.qid ORDER BY pd.d2, pd.vec_id) AS rnk
        |  FROM pd JOIN acn a ON pd.vec_id = a.vec_id
        |  JOIN qpn p ON pd.qid = p.qid AND a.centroid_id = p.centroid_id)
        |  WHERE rnk <= 10),
        |hb AS (SELECT t.qid, count(*) AS hits_stale FROM topb t
        |       JOIN gt ON t.qid = gt.qid AND t.vec_id = gt.vec_id
        |       GROUP BY t.qid),
        |hn AS (SELECT t.qid, count(*) AS hits_retrained FROM topn t
        |       JOIN gt ON t.qid = gt.qid AND t.vec_id = gt.vec_id
        |       GROUP BY t.qid)
        |SELECT qs.qid AS vec_id,
        |  coalesce(hb.hits_stale, 0) AS hits_stale,
        |  coalesce(hn.hits_retrained, 0) AS hits_retrained
        |FROM (SELECT DISTINCT qid FROM q) qs
        |LEFT JOIN hb ON qs.qid = hb.qid
        |LEFT JOIN hn ON qs.qid = hn.qid
        |ORDER BY vec_id""".stripMargin,

    "q_skyline" ->
      """SELECT p_partkey, p_retailprice, p_size FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size))
        |ORDER BY p_partkey""".stripMargin,

    "q_mode" ->
      """SELECT user_id, event_type AS mode_event, n FROM (
        |  SELECT user_id, event_type, count(*) AS n,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY count(*) DESC, event_type) AS rnk
        |  FROM events GROUP BY user_id, event_type)
        |WHERE rnk = 1 ORDER BY user_id""".stripMargin,

    "q_mad" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |             FROM events GROUP BY event_type)
        |SELECT e.event_type, round(min(m.med), 6) AS median_value,
        |       round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
        |FROM events e JOIN med m USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    // RFM quintiles: ntile(ORDER BY metric, user_id) is the same total
    // order as the engine's histogram-decomposed distributed ntile
    "q_rfm" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT max(tus) AS now_us FROM e),
        |p AS (
        |  SELECT user_id,
        |    CAST((max(now_us) - max(tus)) // 86400000000 AS BIGINT)
        |      AS recency_days,
        |    count(*) AS frequency, CAST(sum(cents) AS BIGINT) AS monetary
        |  FROM e, a GROUP BY user_id),
        |s AS (
        |  SELECT user_id, monetary,
        |    ntile(5) OVER (ORDER BY -recency_days, user_id) AS r_score,
        |    ntile(5) OVER (ORDER BY frequency, user_id) AS f_score,
        |    ntile(5) OVER (ORDER BY monetary, user_id) AS m_score
        |  FROM p)
        |SELECT CAST(r_score AS INTEGER) AS r_score,
        |  CAST(f_score AS INTEGER) AS f_score,
        |  CAST(m_score AS INTEGER) AS m_score,
        |  count(*) AS users,
        |  CAST(sum(monetary) AS BIGINT) AS total_cents,
        |  CAST(min(user_id) AS BIGINT) AS first_user
        |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_cohort_retention" ->
      """WITH fs AS (SELECT user_id,
        |              CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |            FROM events GROUP BY user_id)
        |SELECT f.cohort_week,
        |  CAST(date_diff('day', f.cohort_week,
        |         CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS week_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN fs f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_gap_fill" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 3600000000 AS h, value, ts, event_id
        |            FROM events),
        |obs AS (SELECT user_id, h, value AS v_obs FROM (
        |    SELECT user_id, h, value,
        |      row_number() OVER (PARTITION BY user_id, h
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev) WHERE rn = 1),
        |grid AS (SELECT user_id, unnest(generate_series(min(h), max(h))) AS h
        |         FROM ev GROUP BY user_id)
        |SELECT g.user_id, g.h AS epoch_hour,
        |  round(last_value(o.v_obs IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value_filled,
        |  o.v_obs IS NOT NULL AS is_observed
        |FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
        |ORDER BY g.user_id, epoch_hour""".stripMargin,

    "q_interpolate" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 3600000000 AS h, value, ts, event_id
        |            FROM events),
        |obs AS (SELECT user_id, h, c_obs FROM (
        |    SELECT user_id, h, CAST(round(value * 100) AS BIGINT) AS c_obs,
        |      row_number() OVER (PARTITION BY user_id, h
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev) WHERE rn = 1),
        |grid AS (SELECT user_id, unnest(generate_series(min(h), max(h))) AS h
        |         FROM ev GROUP BY user_id),
        |anch AS (
        |  SELECT g.user_id, g.h, o.c_obs,
        |    last_value(o.c_obs IGNORE NULLS) OVER wp AS pc,
        |    last_value(CASE WHEN o.c_obs IS NOT NULL THEN g.h END IGNORE NULLS)
        |      OVER wp AS ph,
        |    first_value(o.c_obs IGNORE NULLS) OVER wn AS nc,
        |    first_value(CASE WHEN o.c_obs IS NOT NULL THEN g.h END IGNORE NULLS)
        |      OVER wn AS nh
        |  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
        |  WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.h
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY g.user_id ORDER BY g.h
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, h AS epoch_hour,
        |  (CASE WHEN nh = ph THEN CAST(pc AS DOUBLE)
        |    ELSE CAST(pc AS DOUBLE)
        |      + CAST((nc - pc) * (h - ph) AS DOUBLE) / CAST(nh - ph AS DOUBLE)
        |    END) / 100.0 AS value_interp,
        |  c_obs IS NOT NULL AS is_observed
        |FROM anch
        |ORDER BY user_id, epoch_hour""".stripMargin,

    "q_ols_trend" ->
      """WITH m AS (SELECT event_type, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(x*y) AS sxy
        |  FROM (SELECT event_type,
        |          (epoch_us(ts) - 1704067200000000) // 3600000000 AS x,
        |          CAST(round(value * 100) AS BIGINT) AS y
        |        FROM events)
        |  GROUP BY event_type),
        |s AS (SELECT *, CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS slope
        |      FROM m)
        |SELECT event_type, n,
        |  round(slope, 6) AS slope_cents_per_hour,
        |  round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4)
        |    AS intercept_cents
        |FROM s ORDER BY event_type""".stripMargin,

    "q_chunk_overlap" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |d2 AS (SELECT doc_id, w, len(w) AS n,
        |  CASE WHEN len(w) <= 64 THEN 1 ELSE 1 + (len(w) - 64 + 47) // 48 END AS n_chunks
        |  FROM docs),
        |ch AS (SELECT doc_id, w, unnest(generate_series(0, n_chunks - 1)) AS chunk_id
        |       FROM d2)
        |SELECT doc_id, chunk_id,
        |  CAST(len(list_slice(w, chunk_id * 48 + 1, chunk_id * 48 + 64)) AS BIGINT)
        |    AS n_chunk_tokens,
        |  md5(array_to_string(list_slice(w, chunk_id * 48 + 1, chunk_id * 48 + 64), ' '))
        |    AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    "q_incremental_dedup" ->
      """WITH docs AS (SELECT doc_id, md5(text) AS content_md5 FROM documents),
        |hist AS (SELECT DISTINCT content_md5 FROM docs WHERE doc_id % 10 < 8),
        |delta AS (SELECT * FROM docs WHERE doc_id % 10 >= 8)
        |SELECT min(doc_id) AS doc_id, content_md5, count(*) AS n_dups
        |FROM delta WHERE content_md5 NOT IN (SELECT content_md5 FROM hist)
        |GROUP BY content_md5 ORDER BY doc_id""".stripMargin,

    "q_incremental_fuzzy" ->
      s"""WITH $shingleCte,
         |$minhashSigSql,
         |bands AS (
         |  SELECT doc_id, 0 AS band_idx, md5(h0||'|'||h1||'|'||h2) AS band_hash FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h3||'|'||h4||'|'||h5) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h6||'|'||h7||'|'||h8) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h9||'|'||h10||'|'||h11) FROM sig),
         |cand AS (SELECT h.doc_id AS id_a, d.doc_id AS id_b
         |         FROM bands d JOIN bands h
         |           ON d.band_idx = h.band_idx AND d.band_hash = h.band_hash
         |         WHERE d.doc_id % 10 >= 8 AND h.doc_id % 10 < 8
         |         GROUP BY 1, 2),
         |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |ver AS (
         |  SELECT id_a, id_b, jac FROM (
         |    SELECT id_a, id_b, round(CAST(ix AS DOUBLE)/(ca+cb-ix), 6) AS jac FROM (
         |      SELECT c.id_a, c.id_b, count(*) AS ix, max(ca.c) AS ca, max(cb.c) AS cb
         |      FROM cand c
         |      JOIN sh a ON a.doc_id = c.id_a
         |      JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
         |      JOIN card ca ON ca.doc_id = c.id_a
         |      JOIN card cb ON cb.doc_id = c.id_b
         |      GROUP BY c.id_a, c.id_b))
         |  WHERE jac >= 0.8),
         |best AS (SELECT id_b AS doc_id, max(jac) AS best_jac FROM ver GROUP BY id_b),
         |pick AS (SELECT v.id_b AS doc_id, min(v.id_a) AS first_dup, b.best_jac
         |         FROM ver v JOIN best b ON v.id_b = b.doc_id AND v.jac = b.best_jac
         |         GROUP BY v.id_b, b.best_jac)
         |SELECT d.doc_id, p.first_dup, p.best_jac,
         |  CAST(CASE WHEN p.first_dup IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
         |LEFT JOIN pick p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // identical semantics to q_incremental_dedup: the bloom is a pure
    // prefilter (no false negatives), so the exact form IS the oracle
    "q_incremental_bloom" ->
      """WITH docs AS (SELECT doc_id, md5(text) AS content_md5 FROM documents),
        |hist AS (SELECT DISTINCT content_md5 FROM docs WHERE doc_id % 10 < 8),
        |delta AS (SELECT * FROM docs WHERE doc_id % 10 >= 8)
        |SELECT min(doc_id) AS doc_id, content_md5, count(*) AS n_dups
        |FROM delta WHERE content_md5 NOT IN (SELECT content_md5 FROM hist)
        |GROUP BY content_md5 ORDER BY doc_id""".stripMargin,

    // BPE round-0 statistics: in-word adjacent char pairs weighted by
    // word frequency (mirrors TextAnalysis.bpePairStats)
    "q_bpe_pairs" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT w, count(*) AS wc FROM tok WHERE len(w) >= 2 GROUP BY w),
        |pi AS (SELECT w, wc, unnest(range(1, len(w))) AS i FROM wc),
        |p AS (SELECT substr(w, i, 2) AS pair, wc FROM pi)
        |SELECT pair, CAST(sum(wc) AS BIGINT) AS freq
        |FROM p GROUP BY pair
        |ORDER BY freq DESC, pair LIMIT 40""".stripMargin,

    // DSIR importance weights (mirrors TextAnalysis.dsirWeights):
    // hashed-bigram bag models (256 md5-nibble buckets), Laplace-
    // smoothed target-vs-raw log-likelihood ratio per document
    "q_dsir" ->
      """WITH bg AS (
        |  SELECT doc_id, lang,
        |    CAST(16 * (strpos('0123456789abcdef',
        |                 substr(md5(w1 || ' ' || w2), 1, 1)) - 1)
        |       + strpos('0123456789abcdef',
        |                 substr(md5(w1 || ' ' || w2), 2, 1)) - 1 AS INT) AS bucket
        |  FROM (SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
        |        FROM (SELECT doc_id, lang, string_split(text, ' ') AS t
        |              FROM documents)
        |        CROSS JOIN LATERAL unnest(range(1, len(t))) AS g(i))),
        |dc AS (SELECT doc_id, bucket, count(*) AS cnt FROM bg GROUP BY 1, 2),
        |m AS (SELECT bucket, count(*) AS c_r,
        |        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
        |      FROM bg GROUP BY 1),
        |t AS (SELECT sum(c_r) AS n_r, sum(c_t) AS n_t FROM m),
        |sm AS (SELECT bucket,
        |         ln(CAST(c_t + 1 AS DOUBLE) / (n_t + 256)) -
        |         ln(CAST(c_r + 1 AS DOUBLE) / (n_r + 256)) AS lr
        |       FROM m CROSS JOIN t),
        |pd AS (SELECT dc.doc_id, CAST(sum(dc.cnt) AS BIGINT) AS n_bigrams,
        |         round(sum(dc.cnt * sm.lr), 6) AS dsir_logw
        |       FROM dc JOIN sm USING (bucket) GROUP BY 1)
        |SELECT d.doc_id, d.lang,
        |  COALESCE(pd.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(pd.dsir_logw, 0.0) AS dsir_logw,
        |  COALESCE(pd.dsir_logw, 0.0) > 0 AS selected
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // iterative BPE training, 4 merge rounds (mirrors
    // TextAnalysis.bpeLearn): each round re-aggregates adjacent-pair
    // frequencies over the current symbol strings, takes the single best
    // pair, and rewrites by the same literal non-overlapping
    // ' a b ' -> ' ab ' replace as the engine's regexp_replace
    "q_bpe_learn" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT w, count(*) AS wc FROM tok WHERE len(w) >= 2 GROUP BY w),
        |w0 AS (SELECT ' ' || array_to_string(
        |         list_transform(range(1, len(w) + 1), i -> w[i:i]), ' ')
        |         || ' ' AS sym, wc FROM wc),
        |p0 AS (SELECT s[i] || ' ' || s[i+1] AS pair, wc
        |       FROM (SELECT wc, string_split(trim(sym), ' ') AS s FROM w0)
        |       CROSS JOIN LATERAL unnest(range(1, len(s))) AS g(i)
        |       WHERE len(s) >= 2),
        |t0 AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS freq FROM p0
        |       GROUP BY pair ORDER BY freq DESC, pair LIMIT 1),
        |w1 AS (SELECT replace(sym, ' ' || t0.pair || ' ',
        |         ' ' || replace(t0.pair, ' ', '') || ' ') AS sym, wc
        |       FROM w0 CROSS JOIN t0),
        |p1 AS (SELECT s[i] || ' ' || s[i+1] AS pair, wc
        |       FROM (SELECT wc, string_split(trim(sym), ' ') AS s FROM w1)
        |       CROSS JOIN LATERAL unnest(range(1, len(s))) AS g(i)
        |       WHERE len(s) >= 2),
        |t1 AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS freq FROM p1
        |       GROUP BY pair ORDER BY freq DESC, pair LIMIT 1),
        |w2 AS (SELECT replace(sym, ' ' || t1.pair || ' ',
        |         ' ' || replace(t1.pair, ' ', '') || ' ') AS sym, wc
        |       FROM w1 CROSS JOIN t1),
        |p2 AS (SELECT s[i] || ' ' || s[i+1] AS pair, wc
        |       FROM (SELECT wc, string_split(trim(sym), ' ') AS s FROM w2)
        |       CROSS JOIN LATERAL unnest(range(1, len(s))) AS g(i)
        |       WHERE len(s) >= 2),
        |t2 AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS freq FROM p2
        |       GROUP BY pair ORDER BY freq DESC, pair LIMIT 1),
        |w3 AS (SELECT replace(sym, ' ' || t2.pair || ' ',
        |         ' ' || replace(t2.pair, ' ', '') || ' ') AS sym, wc
        |       FROM w2 CROSS JOIN t2),
        |p3 AS (SELECT s[i] || ' ' || s[i+1] AS pair, wc
        |       FROM (SELECT wc, string_split(trim(sym), ' ') AS s FROM w3)
        |       CROSS JOIN LATERAL unnest(range(1, len(s))) AS g(i)
        |       WHERE len(s) >= 2),
        |t3 AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS freq FROM p3
        |       GROUP BY pair ORDER BY freq DESC, pair LIMIT 1)
        |SELECT CAST(0 AS INT) AS rank, pair, freq FROM t0
        |UNION ALL SELECT CAST(1 AS INT), pair, freq FROM t1
        |UNION ALL SELECT CAST(2 AS INT), pair, freq FROM t2
        |UNION ALL SELECT CAST(3 AS INT), pair, freq FROM t3
        |ORDER BY rank""".stripMargin,

    // corpus-wide BPE application (mirrors TextAnalysis.bpeEncode): the
    // oracle replays the same 4 trainer rounds keeping each word's symbol
    // state, then tokenizes every document against the final segmentation
    // (words absent from the frequency table — single chars — are 1 piece)
    "q_bpe_encode" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT w, count(*) AS wc FROM tok WHERE len(w) >= 2 GROUP BY w),
        |w0 AS (SELECT w, ' ' || array_to_string(
        |         list_transform(range(1, len(w) + 1), i -> w[i:i]), ' ')
        |         || ' ' AS sym, wc FROM wc),
        |p0 AS (SELECT s[i] || ' ' || s[i+1] AS pair, wc
        |       FROM (SELECT wc, string_split(trim(sym), ' ') AS s FROM w0)
        |       CROSS JOIN LATERAL unnest(range(1, len(s))) AS g(i)
        |       WHERE len(s) >= 2),
        |t0 AS (SELECT pair FROM p0 GROUP BY pair
        |       ORDER BY sum(wc) DESC, pair LIMIT 1),
        |w1 AS (SELECT w, replace(sym, ' ' || t0.pair || ' ',
        |         ' ' || replace(t0.pair, ' ', '') || ' ') AS sym, wc
        |       FROM w0 CROSS JOIN t0),
        |p1 AS (SELECT s[i] || ' ' || s[i+1] AS pair, wc
        |       FROM (SELECT wc, string_split(trim(sym), ' ') AS s FROM w1)
        |       CROSS JOIN LATERAL unnest(range(1, len(s))) AS g(i)
        |       WHERE len(s) >= 2),
        |t1 AS (SELECT pair FROM p1 GROUP BY pair
        |       ORDER BY sum(wc) DESC, pair LIMIT 1),
        |w2 AS (SELECT w, replace(sym, ' ' || t1.pair || ' ',
        |         ' ' || replace(t1.pair, ' ', '') || ' ') AS sym, wc
        |       FROM w1 CROSS JOIN t1),
        |p2 AS (SELECT s[i] || ' ' || s[i+1] AS pair, wc
        |       FROM (SELECT wc, string_split(trim(sym), ' ') AS s FROM w2)
        |       CROSS JOIN LATERAL unnest(range(1, len(s))) AS g(i)
        |       WHERE len(s) >= 2),
        |t2 AS (SELECT pair FROM p2 GROUP BY pair
        |       ORDER BY sum(wc) DESC, pair LIMIT 1),
        |w3 AS (SELECT w, replace(sym, ' ' || t2.pair || ' ',
        |         ' ' || replace(t2.pair, ' ', '') || ' ') AS sym, wc
        |       FROM w2 CROSS JOIN t2),
        |p3 AS (SELECT s[i] || ' ' || s[i+1] AS pair, wc
        |       FROM (SELECT wc, string_split(trim(sym), ' ') AS s FROM w3)
        |       CROSS JOIN LATERAL unnest(range(1, len(s))) AS g(i)
        |       WHERE len(s) >= 2),
        |t3 AS (SELECT pair FROM p3 GROUP BY pair
        |       ORDER BY sum(wc) DESC, pair LIMIT 1),
        |w4 AS (SELECT w, replace(sym, ' ' || t3.pair || ' ',
        |         ' ' || replace(t3.pair, ' ', '') || ' ') AS sym, wc
        |       FROM w3 CROSS JOIN t3),
        |pieces AS (SELECT w, len(string_split(trim(sym), ' ')) AS np FROM w4),
        |dtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |         FROM documents),
        |enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |               CAST(sum(coalesce(np, 1)) AS BIGINT) AS n_pieces
        |        FROM dtok LEFT JOIN pieces USING (w) GROUP BY doc_id)
        |SELECT doc_id, n_words, n_pieces,
        |  CAST(n_pieces AS DOUBLE) / n_words AS pieces_per_word
        |FROM enc ORDER BY doc_id""".stripMargin,

    // duplicated-span excision (mirrors TextAnalysis.spanScrub, k=8):
    // keeper = first occurrence by (doc_id, pos); a token is cut iff a
    // non-keeper occurrence of a duplicated window covers it
    "q_span_scrub" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |occ AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS p
        |        FROM d WHERE len(t) >= 8),
        |o2 AS (SELECT doc_id, p, array_to_string(t[p:p+7], ' ') AS gm FROM occ),
        |mk AS (SELECT doc_id, p,
        |         count(*) OVER (PARTITION BY gm) AS nocc,
        |         row_number() OVER (PARTITION BY gm ORDER BY doc_id, p) AS rn
        |       FROM o2),
        |rm AS (SELECT DISTINCT doc_id, j FROM
        |        (SELECT doc_id, p + unnest(range(0, 8)) AS j FROM mk
        |         WHERE nocc >= 2 AND rn >= 2)),
        |tk AS (SELECT doc_id, j, t[j] AS tok FROM
        |        (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS j FROM d)),
        |kept AS (SELECT tk.doc_id, tk.j, tk.tok FROM tk
        |         ANTI JOIN rm USING (doc_id, j)),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |               string_agg(tok, ' ' ORDER BY j) AS clean_text
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
        |  CAST(len(d.t) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(agg.clean_text, '') AS clean_text
        |FROM d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // cross-source shared-5-gram matrix (mirrors TextAnalysis.sourceOverlap)
    "q_source_overlap" ->
      """WITH d AS (SELECT source, string_split(text, ' ') AS t FROM documents),
        |g0 AS (SELECT source, array_to_string(t[i:i+4], ' ') AS gm FROM
        |        (SELECT source, t, unnest(range(1, len(t) - 3)) AS i
        |         FROM d WHERE len(t) >= 5)),
        |g AS (SELECT DISTINCT source, gm FROM g0),
        |tot AS (SELECT source, count(*) AS n FROM g GROUP BY source),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |             CAST(count(*) AS BIGINT) AS shared_grams
        |      FROM g a JOIN g b ON a.gm = b.gm AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT src_a, src_b, shared_grams,
        |  CAST(shared_grams AS DOUBLE) / (ta.n + tb.n - shared_grams) AS jaccard
        |FROM p JOIN tot ta ON ta.source = src_a
        |       JOIN tot tb ON tb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,

    // Gopher repetition metrics (mirrors TextAnalysis.gopherRepetition):
    // exact integer char-mass numerators, one IEEE division per share
    "q_gopher_rep" ->
      """WITH d AS (SELECT doc_id, length(text) AS total_chars,
        |                  string_split(text, ' ') AS t FROM documents),
        |g2 AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gm FROM
        |        (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |         FROM d WHERE len(t) >= 2)),
        |c2 AS (SELECT doc_id, gm, count(*) AS c FROM g2 GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, max(c * length(gm)) AS top2_chars
        |       FROM c2 GROUP BY doc_id),
        |g3 AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gm FROM
        |        (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
        |         FROM d WHERE len(t) >= 3)),
        |c3 AS (SELECT doc_id, gm, count(*) AS c FROM g3 GROUP BY 1, 2),
        |t3 AS (SELECT doc_id, sum((c - 1) * length(gm)) AS dup3_chars
        |       FROM c3 WHERE c >= 2 GROUP BY doc_id)
        |SELECT d.doc_id, CAST(d.total_chars AS BIGINT) AS total_chars,
        |  CAST(coalesce(t2.top2_chars, 0) AS BIGINT) AS top2_chars,
        |  CAST(coalesce(t3.dup3_chars, 0) AS BIGINT) AS dup3_chars,
        |  CAST(coalesce(t2.top2_chars, 0) AS DOUBLE) / d.total_chars
        |    AS top2_share,
        |  CAST(coalesce(t3.dup3_chars, 0) AS DOUBLE) / d.total_chars
        |    AS dup3_share
        |FROM d LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Gopher rule filter (mirrors TextAnalysis.gopherRules): every ratio
    // threshold cross-multiplied into exact integer comparisons
    "q_gopher_rules" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t
        |           FROM documents)
        |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
        |  len(t) BETWEEN 50 AND 100000 AS rule_word_count,
        |  (length(text) - (len(t) - 1)) BETWEEN 3 * len(t) AND 10 * len(t)
        |    AS rule_word_len,
        |  len(list_intersect(t, ['the','a','and','of','to','in'])) >= 2
        |    AS rule_stopwords,
        |  5 * len(list_distinct(t)) >= len(t) AS rule_ttr,
        |  (len(t) BETWEEN 50 AND 100000) AND
        |  ((length(text) - (len(t) - 1)) BETWEEN 3 * len(t) AND 10 * len(t)) AND
        |  (len(list_intersect(t, ['the','a','and','of','to','in'])) >= 2) AND
        |  (5 * len(list_distinct(t)) >= len(t)) AS keep_doc
        |FROM d ORDER BY doc_id""".stripMargin,

    // top-30-vocab PMI pairs (mirrors TextAnalysis.pmiPairs): distinct
    // terms per doc, df-desc/term top-30 cut, within-doc pairs a<b
    "q_pmi" ->
      """WITH terms AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |df AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
        |vocab AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT 30),
        |iv AS (SELECT t.doc_id, t.term, v.df FROM terms t JOIN vocab v USING (term)),
        |n AS (SELECT count(*) AS n_total FROM documents),
        |pairs AS (
        |  SELECT x.term AS a, y.term AS b, x.df AS df_a, y.df AS df_b,
        |    count(*) AS n_ab
        |  FROM iv x JOIN iv y ON x.doc_id = y.doc_id AND x.term < y.term
        |  GROUP BY 1, 2, 3, 4)
        |SELECT a, b, n_ab, df_a, df_b,
        |  round(ln(n_ab * n_total / (df_a * df_b)), 6) AS pmi
        |FROM pairs, n WHERE n_ab >= 5
        |ORDER BY a, b""".stripMargin,

    // Flesch readability (mirrors TextAnalysis.readability): whitespace
    // words, [.!?] sentence marks (min 1), vowel-run syllables
    "q_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS BIGINT)
        |      AS n_sents,
        |    CAST(greatest(len(regexp_extract_all(text, '[aeiouy]+')), 1) AS BIGINT)
        |      AS n_sylls
        |  FROM documents)
        |SELECT doc_id, n_words, n_sents, n_sylls,
        |  CAST(round((206.835 - 1.015 * n_words / n_sents
        |        - 84.6 * n_sylls / n_words) * 1e4) AS BIGINT) AS flesch_q4,
        |  CAST(round((0.39 * n_words / n_sents
        |        + 11.8 * n_sylls / n_words - 15.59) * 1e4) AS BIGINT) AS fk_grade_q4
        |FROM c ORDER BY doc_id""".stripMargin,

    // sqrt-temperature language mixing (mirrors TextAnalysis.mixTemperature)
    "q_mix_temperature" ->
      """WITH l AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_docs,
        |        sum(sqrt(n_docs)) OVER (ORDER BY lang ROWS BETWEEN
        |          UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS z,
        |        sum(n_docs) OVER (ORDER BY lang ROWS BETWEEN
        |          UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n_total
        |      FROM l)
        |SELECT lang, n_docs,
        |  round(sqrt(n_docs) / z, 6) AS weight,
        |  round(sqrt(n_docs) / z / (CAST(n_docs AS DOUBLE) / n_total), 6) AS boost
        |FROM w ORDER BY lang""".stripMargin,

    // per-doc duplicated 8-token-window coverage (mirrors
    // TextAnalysis.duplicatedSpans, k=8)
    "q_dup_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tot AS (SELECT doc_id, greatest(len(t) - 7, 0) AS n_grams FROM d),
        |pos AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        |        FROM d WHERE len(t) >= 8),
        |g AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS gm FROM pos),
        |gd AS (SELECT gm, doc_id, count(*) AS cnt FROM g GROUP BY gm, doc_id),
        |gs AS (SELECT gm, count(*) AS nd FROM gd GROUP BY gm),
        |dup AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_dup
        |        FROM gd JOIN gs USING (gm) WHERE nd >= 2 GROUP BY doc_id)
        |SELECT tot.doc_id, CAST(tot.n_grams AS BIGINT) AS n_grams,
        |  coalesce(dup.n_dup, 0) AS n_dup,
        |  CASE WHEN tot.n_grams > 0
        |       THEN round(CAST(coalesce(dup.n_dup, 0) AS DOUBLE) / tot.n_grams, 6)
        |       ELSE 0.0 END AS dup_frac
        |FROM tot LEFT JOIN dup USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // exact longest duplicated token span per doc (mirrors
    // DupSpans.longestDupSpan): the oracle uses the same suffix-array
    // property — sort all suffixes, a suffix's max LCP with any other is
    // attained at an adjacent suffix; max over a doc's positions. The
    // engine's prefix-doubling ranks produce the same lexicographic
    // order, so values agree exactly (pure-ASCII corpus, binary collation
    // both sides).
    "q_longest_dup_span" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, t[i:] AS suf
        |        FROM d CROSS JOIN LATERAL unnest(range(1, len(t) + 1)) AS g(i)),
        |ord AS (SELECT doc_id, suf,
        |          lag(suf)  OVER (ORDER BY suf) AS prv,
        |          lead(suf) OVER (ORDER BY suf) AS nxt
        |        FROM pos),
        |lcps AS (SELECT doc_id, greatest(
        |    CASE WHEN prv IS NULL THEN 0 ELSE coalesce(
        |      (SELECT min(k) - 1
        |       FROM unnest(range(1, least(len(suf), len(prv)) + 1)) AS s(k)
        |       WHERE suf[k] <> prv[k]), least(len(suf), len(prv))) END,
        |    CASE WHEN nxt IS NULL THEN 0 ELSE coalesce(
        |      (SELECT min(k) - 1
        |       FROM unnest(range(1, least(len(suf), len(nxt)) + 1)) AS s(k)
        |       WHERE suf[k] <> nxt[k]), least(len(suf), len(nxt))) END) AS lcp
        |  FROM ord)
        |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(max(l.lcp), 0) AS BIGINT) AS max_dup_span
        |FROM d LEFT JOIN lcps l USING (doc_id)
        |GROUP BY d.doc_id, len(d.t)
        |ORDER BY doc_id""".stripMargin,

    // common-neighbor / Jaccard link prediction over the co-purchase
    // graph (mirrors Graph.copurchaseLinks; shares q_triangles' edge CTE)
    "q_link_predict" ->
      """WITH op AS (SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
        |            FROM lineitem l JOIN orders ord ON l.l_orderkey = ord.o_orderkey
        |            WHERE ord.o_orderdate >= TIMESTAMP '1995-01-01'
        |              AND ord.o_orderdate < TIMESTAMP '1995-07-01'),
        |ok AS (SELECT o FROM op GROUP BY o HAVING count(*) <= 10),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        |      JOIN ok ON x.o = ok.o),
        |adj AS (SELECT a AS v, b AS n FROM e UNION ALL SELECT b AS v, a AS n FROM e),
        |deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY v),
        |ctr AS (SELECT adj.v, adj.n FROM adj JOIN deg ON adj.v = deg.v
        |        WHERE deg.deg <= 60),
        |w AS (SELECT c1.n AS x, c2.n AS y
        |      FROM ctr c1 JOIN ctr c2 ON c1.v = c2.v AND c1.n < c2.n),
        |cm AS (SELECT x, y, count(*) AS common FROM w GROUP BY x, y),
        |nc AS (SELECT cm.x, cm.y, cm.common FROM cm
        |       LEFT JOIN e ON cm.x = e.a AND cm.y = e.b WHERE e.a IS NULL)
        |SELECT nc.x, nc.y, nc.common,
        |  round(CAST(nc.common AS DOUBLE) / (dx.deg + dy.deg - nc.common), 6)
        |    AS jaccard
        |FROM nc JOIN deg dx ON nc.x = dx.v JOIN deg dy ON nc.y = dy.v
        |ORDER BY jaccard DESC, common DESC, x, y LIMIT 50""".stripMargin,

    // leakage-free split: hash the near-dup CLUSTER representative, not
    // the document, so clusters never straddle train/val (mirrors
    // Graph.clusterSafeSplit; shares q_dedup_clusters' recursive CTE)
    "q_cluster_split" ->
      s"""WITH RECURSIVE $shingleCte,
         |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT id_a, id_b FROM inter
         |          JOIN card ca ON ca.doc_id = id_a
         |          JOIN card cb ON cb.doc_id = id_b
         |          WHERE round(CAST(ix AS DOUBLE) / (ca.c + cb.c - ix), 6) >= 0.8),
         |bi AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |       UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (SELECT src AS node, dst AS r FROM bi
         |          UNION
         |          SELECT w.node, b.dst FROM reach w JOIN bi b ON w.r = b.src),
         |clusters AS (SELECT node AS doc_id, least(node, min(r)) AS cluster_id
         |             FROM reach GROUP BY node)
         |SELECT d.doc_id,
         |  coalesce(c.cluster_id, d.doc_id) AS group_id,
         |  CASE WHEN substr(md5('split:' ||
         |         CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 1)
         |       IN ('0', '1') THEN 'val' ELSE 'train' END AS split
         |FROM documents d LEFT JOIN clusters c USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // Deterministic random walks: md5-indexed neighbor picks over the
    // rank-ordered symmetrized adjacency; 4 unrolled step joins
    "q_random_walks" ->
      """WITH op AS (SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
        |            FROM lineitem l JOIN orders ord ON l.l_orderkey = ord.o_orderkey
        |            WHERE ord.o_orderdate >= TIMESTAMP '1995-01-01'
        |              AND ord.o_orderdate < TIMESTAMP '1995-07-01'),
        |ok AS (SELECT o FROM op GROUP BY o HAVING count(*) <= 10),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        |      JOIN ok ON x.o = ok.o),
        |adj AS MATERIALIZED (
        |  SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk,
        |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
        |  FROM (SELECT a AS src, b AS dst FROM e
        |        UNION SELECT b, a FROM e)),
        |s0 AS (SELECT DISTINCT src AS start FROM adj
        |       WHERE ('0x' || substr(md5('rws|' || CAST(src AS VARCHAR)), 1, 8))
        |             ::BIGINT % 4 = 0),
        |w1 AS (SELECT s0.start, adj.dst AS step1
        |       FROM s0 JOIN adj ON adj.src = s0.start
        |         AND adj.rnk = ('0x' || substr(md5('rw|'
        |           || CAST(s0.start AS VARCHAR) || '|1|'
        |           || CAST(s0.start AS VARCHAR)), 1, 8))::BIGINT
        |           % adj.deg + 1),
        |w2 AS (SELECT w1.start, w1.step1, adj.dst AS step2
        |       FROM w1 JOIN adj ON adj.src = w1.step1
        |         AND adj.rnk = ('0x' || substr(md5('rw|'
        |           || CAST(w1.start AS VARCHAR) || '|2|'
        |           || CAST(w1.step1 AS VARCHAR)), 1, 8))::BIGINT
        |           % adj.deg + 1),
        |w3 AS (SELECT w2.start, w2.step1, w2.step2, adj.dst AS step3
        |       FROM w2 JOIN adj ON adj.src = w2.step2
        |         AND adj.rnk = ('0x' || substr(md5('rw|'
        |           || CAST(w2.start AS VARCHAR) || '|3|'
        |           || CAST(w2.step2 AS VARCHAR)), 1, 8))::BIGINT
        |           % adj.deg + 1),
        |w4 AS (SELECT w3.start, w3.step1, w3.step2, w3.step3,
        |         adj.dst AS step4
        |       FROM w3 JOIN adj ON adj.src = w3.step3
        |         AND adj.rnk = ('0x' || substr(md5('rw|'
        |           || CAST(w3.start AS VARCHAR) || '|4|'
        |           || CAST(w3.step3 AS VARCHAR)), 1, 8))::BIGINT
        |           % adj.deg + 1)
        |SELECT start, step1, step2, step3, step4
        |FROM w4 ORDER BY start""".stripMargin,

    // skip-gram pairs over the same walk corpus: positions pair within
    // each walk only (|i-j| <= 2), unordered, exact counts
    "q_skipgram" ->
      """WITH op AS (SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
        |            FROM lineitem l JOIN orders ord ON l.l_orderkey = ord.o_orderkey
        |            WHERE ord.o_orderdate >= TIMESTAMP '1995-01-01'
        |              AND ord.o_orderdate < TIMESTAMP '1995-07-01'),
        |ok AS (SELECT o FROM op GROUP BY o HAVING count(*) <= 10),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        |      JOIN ok ON x.o = ok.o),
        |adj AS MATERIALIZED (
        |  SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk,
        |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
        |  FROM (SELECT a AS src, b AS dst FROM e
        |        UNION SELECT b, a FROM e)),
        |s0 AS (SELECT DISTINCT src AS start FROM adj
        |       WHERE ('0x' || substr(md5('rws|' || CAST(src AS VARCHAR)), 1, 8))
        |             ::BIGINT % 4 = 0),
        |w1 AS (SELECT s0.start, adj.dst AS step1
        |       FROM s0 JOIN adj ON adj.src = s0.start
        |         AND adj.rnk = ('0x' || substr(md5('rw|'
        |           || CAST(s0.start AS VARCHAR) || '|1|'
        |           || CAST(s0.start AS VARCHAR)), 1, 8))::BIGINT
        |           % adj.deg + 1),
        |w2 AS (SELECT w1.start, w1.step1, adj.dst AS step2
        |       FROM w1 JOIN adj ON adj.src = w1.step1
        |         AND adj.rnk = ('0x' || substr(md5('rw|'
        |           || CAST(w1.start AS VARCHAR) || '|2|'
        |           || CAST(w1.step1 AS VARCHAR)), 1, 8))::BIGINT
        |           % adj.deg + 1),
        |w3 AS (SELECT w2.start, w2.step1, w2.step2, adj.dst AS step3
        |       FROM w2 JOIN adj ON adj.src = w2.step2
        |         AND adj.rnk = ('0x' || substr(md5('rw|'
        |           || CAST(w2.start AS VARCHAR) || '|3|'
        |           || CAST(w2.step2 AS VARCHAR)), 1, 8))::BIGINT
        |           % adj.deg + 1),
        |w4 AS (SELECT w3.start, w3.step1, w3.step2, w3.step3,
        |         adj.dst AS step4
        |       FROM w3 JOIN adj ON adj.src = w3.step3
        |         AND adj.rnk = ('0x' || substr(md5('rw|'
        |           || CAST(w3.start AS VARCHAR) || '|4|'
        |           || CAST(w3.step3 AS VARCHAR)), 1, 8))::BIGINT
        |           % adj.deg + 1),
        |pos AS (SELECT start, 0 AS pos, start AS node FROM w4
        |        UNION ALL SELECT start, 1, step1 FROM w4
        |        UNION ALL SELECT start, 2, step2 FROM w4
        |        UNION ALL SELECT start, 3, step3 FROM w4
        |        UNION ALL SELECT start, 4, step4 FROM w4)
        |SELECT least(x.node, y.node) AS a,
        |  greatest(x.node, y.node) AS b, count(*) AS n_pairs
        |FROM pos x JOIN pos y ON x.start = y.start
        |  AND x.pos < y.pos AND y.pos - x.pos <= 2
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_triangles" ->
      """WITH op AS (SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
        |            FROM lineitem l JOIN orders ord ON l.l_orderkey = ord.o_orderkey
        |            WHERE ord.o_orderdate >= TIMESTAMP '1995-01-01'
        |              AND ord.o_orderdate < TIMESTAMP '1995-07-01'),
        |ok AS (SELECT o FROM op GROUP BY o HAVING count(*) <= 10),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        |      JOIN ok ON x.o = ok.o),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e e1 JOIN e e2 ON e1.b = e2.a
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
        |      UNION ALL SELECT z FROM tri)
        |SELECT v AS node, count(*) AS n_triangles FROM n
        |GROUP BY v ORDER BY node""".stripMargin,

    "q_feature_scale" ->
      """WITH ev AS (SELECT event_id, event_type,
        |              CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |st AS (SELECT event_type, count(*) AS n, sum(c) AS s, sum(c*c) AS ss
        |       FROM ev GROUP BY event_type)
        |SELECT event_id, ev.event_type,
        |  round((CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
        |            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |           / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 6) AS z
        |FROM ev JOIN st ON ev.event_type = st.event_type
        |ORDER BY event_id""".stripMargin,

    "q_robust_outliers" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |             FROM events GROUP BY event_type),
        |mad AS (SELECT e.event_type, min(m.med) AS med,
        |          quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |        FROM events e JOIN med m ON e.event_type = m.event_type
        |        GROUP BY e.event_type)
        |SELECT event_id, e.event_type, round(e.value, 6) AS value,
        |  round(abs(0.6745 * (e.value - m.med) / m.mad), 6) AS score
        |FROM events e JOIN mad m ON e.event_type = m.event_type
        |WHERE round(abs(0.6745 * (e.value - m.med) / m.mad), 6) > 3.5
        |ORDER BY event_id""".stripMargin,

    "q_temporal_split" ->
      """SELECT user_id, event_id,
        |  CASE WHEN percent_rank() OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id) < 0.8
        |       THEN 'train' ELSE 'test' END AS split
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q_label_encode" ->
      """WITH codes AS (SELECT event_type,
        |    row_number() OVER (ORDER BY count(*) DESC, event_type) - 1 AS code
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, CAST(code AS INTEGER) AS code
        |FROM events e JOIN codes c ON e.event_type = c.event_type
        |ORDER BY event_id""".stripMargin,

    // Out-of-fold target encoding: fold ids and the target are exact
    // integers, the encodes are ratios of BIGINT sums re-quantized to
    // 1e-6 units; a level confined to one fold yields NULL oof
    "q_target_encode" ->
      """WITH o AS (
        |  SELECT o_orderkey % 5 AS fold,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
        |    o_orderpriority AS priority,
        |    strftime(o_orderdate, '%Y-%m') AS month
        |  FROM orders),
        |u AS (
        |  SELECT 'priority' AS feature, priority AS level, fold,
        |    count(*) AS n_f, CAST(sum(y) AS BIGINT) AS sy_f
        |  FROM o GROUP BY 2, 3
        |  UNION ALL
        |  SELECT 'month', month, fold, count(*), CAST(sum(y) AS BIGINT)
        |  FROM o GROUP BY 2, 3),
        |t AS (
        |  SELECT feature, level, fold, n_f, sy_f,
        |    CAST(sum(n_f) OVER (PARTITION BY feature, level) AS BIGINT) AS n,
        |    CAST(sum(sy_f) OVER (PARTITION BY feature, level) AS BIGINT) AS sy,
        |    CAST(sum(n_f) OVER (PARTITION BY feature) AS BIGINT) AS gn,
        |    CAST(sum(sy_f) OVER (PARTITION BY feature) AS BIGINT) AS gsy
        |  FROM u)
        |SELECT feature, level, fold, n_f AS n, sy_f AS y_sum,
        |  CASE WHEN n = n_f THEN NULL ELSE
        |    CAST(CAST(round(CAST(sy - sy_f AS DOUBLE)
        |      / CAST(n - n_f AS DOUBLE) * 1e6) AS BIGINT) AS DOUBLE) / 1e6
        |  END AS oof,
        |  CAST(CAST(round((CAST(sy AS DOUBLE)
        |      + 20e0 * CAST(gsy AS DOUBLE) / CAST(gn AS DOUBLE))
        |    / CAST(n + 20 AS DOUBLE) * 1e6) AS BIGINT) AS DOUBLE) / 1e6
        |    AS smoothed
        |FROM t ORDER BY feature, level, fold""".stripMargin,

    "q_vwap" ->
      """WITH li AS (SELECT l_partkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(round(l_quantity * 1000) AS BIGINT) AS milli
        |  FROM lineitem)
        |SELECT p_brand, count(*) AS n_lines,
        |  round(CAST(sum(cents) AS DOUBLE) / CAST(sum(milli) AS DOUBLE)
        |        * 1000.0 / 100.0, 6) AS vwap
        |FROM li JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_dedup_sorted" ->
      """WITH d AS (SELECT doc_id, lang, substr(text, 1, 24) AS sk,
        |             list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents),
        |o AS (SELECT doc_id, toks,
        |        lag(doc_id, 1) OVER win AS p1, lag(toks, 1) OVER win AS t1,
        |        lag(doc_id, 2) OVER win AS p2, lag(toks, 2) OVER win AS t2,
        |        lag(doc_id, 3) OVER win AS p3, lag(toks, 3) OVER win AS t3
        |      FROM d WINDOW win AS (PARTITION BY lang ORDER BY sk, doc_id)),
        |pairs AS (
        |  SELECT p1 AS id_a, doc_id AS id_b, t1 AS ta, toks AS tb FROM o WHERE p1 IS NOT NULL
        |  UNION ALL
        |  SELECT p2, doc_id, t2, toks FROM o WHERE p2 IS NOT NULL
        |  UNION ALL
        |  SELECT p3, doc_id, t3, toks FROM o WHERE p3 IS NOT NULL),
        |j AS (SELECT id_a, id_b,
        |        CAST(len(list_distinct(list_intersect(ta, tb))) AS DOUBLE)
        |          / CAST(len(list_distinct(ta || tb)) AS DOUBLE) AS jac
        |      FROM pairs)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j
        |WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    "q_corr_matrix" ->
      """WITH hourly AS (SELECT epoch_us(ts) // 3600000000 AS h, event_type,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n,
        |    sum(a.c) AS sx, sum(b.c) AS sy,
        |    sum(a.c * a.c) AS sxx, sum(b.c * b.c) AS syy,
        |    sum(a.c * b.c) AS sxy
        |  FROM hourly a JOIN hourly b ON a.h = b.h AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT ta, tb, n,
        |  round(CAST(n*sxy - sx*sy AS DOUBLE)
        |    / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
        |       * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) AS r
        |FROM m ORDER BY ta, tb""".stripMargin,

    "q_degree_dist" ->
      """WITH op AS (SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
        |            FROM lineitem l JOIN orders ord ON l.l_orderkey = ord.o_orderkey
        |            WHERE ord.o_orderdate >= TIMESTAMP '1995-01-01'
        |              AND ord.o_orderdate < TIMESTAMP '1995-07-01'),
        |ok AS (SELECT o FROM op GROUP BY o HAVING count(*) <= 10),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        |      JOIN ok ON x.o = ok.o),
        |d AS (SELECT v, count(*) AS degree FROM (
        |        SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v)
        |SELECT degree, count(*) AS n_nodes FROM d
        |GROUP BY degree ORDER BY degree""".stripMargin,

    "q_trade_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q_ship_priority" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_promo_share" ->
      """WITH c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS promo_cents,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
        |SELECT (100.0 * promo_cents) / total_cents AS promo_pct,
        |       promo_cents, total_cents
        |FROM c""".stripMargin,

    "q_large_volume" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS total_qty_cents
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 15000)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, total_qty_cents
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty_cents DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    "q_brand_revenue" ->
      """SELECT
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_type = 'PROMO' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_type = 'SMALL' AND p_size BETWEEN 16 AND 35
        |       AND l_quantity BETWEEN 20 AND 40)
        |   OR (p_type = 'LARGE' AND p_size BETWEEN 36 AND 50
        |       AND l_quantity BETWEEN 25 AND 50)""".stripMargin,

    "q_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, ts, event_id, epoch_us(ts) AS start_us,
        |         epoch_us(ts) + 1800000000 AS end_us
        |  FROM events),
        |flag AS (
        |  SELECT *, CASE WHEN max(end_us) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR start_us > max(end_us) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS new_island
        |  FROM iv),
        |isl AS (
        |  SELECT *, CAST(sum(new_island) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        |  FROM flag)
        |SELECT user_id, island,
        |  make_timestamp(min(start_us)) AS island_start,
        |  make_timestamp(max(end_us)) AS island_end,
        |  count(*) AS n_events
        |FROM isl
        |GROUP BY user_id, island
        |ORDER BY user_id, island""".stripMargin,

    "q_drawdown" ->
      """WITH path AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cum_cents
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |pk AS (
        |  SELECT user_id, cum_cents,
        |    CAST(max(cum_cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak_cents
        |  FROM path)
        |SELECT user_id,
        |  CAST(max(peak_cents - cum_cents) AS BIGINT) AS max_drawdown_cents,
        |  CAST(max(peak_cents) AS BIGINT) AS peak_cents,
        |  count(*) AS n_events
        |FROM pk
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q_twap" ->
      """WITH ticks AS (
        |  SELECT user_id,
        |    epoch_us(ts) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS c,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |                             ORDER BY ts, event_id) - epoch_us(ts)
        |      AS dur_us
        |  FROM events)
        |SELECT user_id, count(*) AS n_intervals,
        |  CAST(sum(dur_us) AS BIGINT) AS span_us,
        |  round(CAST(sum(c * dur_us) AS DOUBLE)
        |        / CAST(sum(dur_us) AS DOUBLE) / 100.0, 6) AS twap
        |FROM ticks
        |WHERE dur_us IS NOT NULL AND dur_us > 0
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |cnt AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM seq WHERE to_type IS NOT NULL
        |  GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM cnt
        |ORDER BY from_type, to_type""".stripMargin,

    "q_cum_users" ->
      """WITH fd AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events
        |  GROUP BY user_id),
        |daily AS (SELECT day, count(*) AS new_users FROM fd GROUP BY day)
        |SELECT day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM daily
        |ORDER BY day""".stripMargin,

    "q_seasonality" ->
      """SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
        |  CAST(hour(ts) AS INTEGER) AS hod,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY dow, hod""".stripMargin,

    "q_weighted_median" ->
      """WITH wtd AS (
        |  SELECT event_type, value, event_id, (event_id % 7) + 1 AS wt
        |  FROM events),
        |cumed AS (
        |  SELECT event_type, value, event_id, wt,
        |    CAST(sum(wt) OVER (PARTITION BY event_type ORDER BY value, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_wt,
        |    CAST(sum(wt) OVER (PARTITION BY event_type) AS BIGINT) AS tot_wt
        |  FROM wtd)
        |SELECT event_type,
        |  CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS wmedian_cents,
        |  CAST(max(tot_wt) AS BIGINT) AS total_weight
        |FROM cumed
        |WHERE cum_wt * 2 >= tot_wt
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_rolling_slope" ->
      """WITH xy AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CAST(row_number() OVER w AS BIGINT) AS x,
        |    CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)),
        |m AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    count(*) OVER f AS cnt,
        |    CAST(sum(x) OVER f AS BIGINT) AS sx,
        |    CAST(sum(y) OVER f AS BIGINT) AS sy,
        |    CAST(sum(x * x) OVER f AS BIGINT) AS sxx,
        |    CAST(sum(x * y) OVER f AS BIGINT) AS sxy
        |  FROM xy
        |  WINDOW f AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_type, ts, event_id,
        |  CASE WHEN cnt = 20 THEN
        |    CAST(20 * sxy - sx * sy AS DOUBLE) / CAST(20 * sxx - sx * sx AS DOUBLE)
        |  END AS slope_cents
        |FROM m
        |ORDER BY user_id, event_type, ts, event_id""".stripMargin,

    "q_fuzzy_pairs" ->
      """SELECT a.p_brand, count(*) AS n_pairs,
        |  CAST(min(levenshtein(a.p_name, b.p_name)) AS INTEGER) AS min_dist,
        |  CAST(sum(levenshtein(a.p_name, b.p_name)) AS BIGINT) AS sum_dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 4
        |GROUP BY a.p_brand
        |ORDER BY a.p_brand""".stripMargin,

    "q_ngram_novelty" ->
      s"""WITH $shingleCte,
         |per_doc AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
         |firsts AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
         |novel AS (SELECT first_doc AS doc_id, count(*) AS n_novel
         |          FROM firsts GROUP BY first_doc)
         |SELECT p.doc_id, p.n_shingles,
         |  coalesce(n.n_novel, 0) AS n_novel,
         |  CAST(coalesce(n.n_novel, 0) AS DOUBLE) / CAST(p.n_shingles AS DOUBLE) AS novelty
         |FROM per_doc p LEFT JOIN novel n ON p.doc_id = n.doc_id
         |ORDER BY p.doc_id""".stripMargin,

    // reproduces the DSv2 Ticker generator closed-form: 12-hex-digit md5
    // prefix as unsigned int, price/volume by modulus — no parquet input
    // DSv2 aggregate-pushdown census (mirrors TickerQueries.aggCensus):
    // the feed is parameter-defined, so the oracle is the closed form of
    // the same tick-range arithmetic the pushed scan evaluates
    "q_ticker_agg" ->
      """WITH coins AS (
        |  SELECT 'coin' || lpad(CAST(i AS VARCHAR), 2, '0') AS coin_id
        |  FROM (SELECT unnest(range(0, 20)) AS i)),
        |exs AS (SELECT 'ex' || CAST(i AS VARCHAR) AS exchange
        |        FROM (SELECT unnest(range(0, 2)) AS i))
        |SELECT coin_id, exchange,
        |  CAST(300 AS BIGINT) AS n_ticks,
        |  CAST(100 AS BIGINT) AS first_tick,
        |  CAST(399 AS BIGINT) AS last_tick,
        |  CAST(1704067200 + 399 * 300 AS BIGINT) * 1000000 AS last_ts_us
        |FROM coins CROSS JOIN exs
        |ORDER BY coin_id, exchange""".stripMargin,

    "q_ticker_summary" ->
      """WITH coins AS (
        |  SELECT 'coin' || lpad(CAST(i AS VARCHAR), 2, '0') AS coin_id
        |  FROM (SELECT unnest(range(0, 20)) AS i)),
        |ticks AS (SELECT unnest(range(100, 400)) AS tick),
        |rows_ AS (
        |  SELECT coin_id, tick,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef',
        |              substr(md5(coin_id || '|ex0|' || CAST(tick AS VARCHAR)),
        |                     CAST(k AS INTEGER), 1)) - 1)
        |           * CAST(16 ** (12 - k) AS BIGINT))) AS BIGINT) AS h
        |  FROM coins CROSS JOIN ticks),
        |v AS (SELECT coin_id,
        |        100000 + h % 900000 AS price_cents,
        |        1000 + h % 99000 AS volume_milli
        |      FROM rows_)
        |SELECT coin_id, count(*) AS n_ticks,
        |  CAST(sum(price_cents) AS BIGINT) AS sum_price_cents,
        |  CAST(min(price_cents) AS BIGINT) AS min_price_cents,
        |  CAST(max(price_cents) AS BIGINT) AS max_price_cents,
        |  CAST(sum(volume_milli) AS BIGINT) AS sum_volume_milli
        |FROM v
        |GROUP BY coin_id
        |ORDER BY coin_id""".stripMargin,

    // same closed-form feed rebuild, aggregated with the column names of
    // the transformWithState partial (price rides as cents end-to-end)
    "q_state_v2" ->
      """WITH coins AS (
        |  SELECT 'coin' || lpad(CAST(i AS VARCHAR), 2, '0') AS coin_id
        |  FROM (SELECT unnest(range(0, 20)) AS i)),
        |ticks AS (SELECT unnest(range(100, 400)) AS tick),
        |rows_ AS (
        |  SELECT coin_id, tick,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef',
        |              substr(md5(coin_id || '|ex0|' || CAST(tick AS VARCHAR)),
        |                     CAST(k AS INTEGER), 1)) - 1)
        |           * CAST(16 ** (12 - k) AS BIGINT))) AS BIGINT) AS h
        |  FROM coins CROSS JOIN ticks),
        |v AS (SELECT coin_id, 100000 + h % 900000 AS price_cents FROM rows_)
        |SELECT coin_id, count(*) AS n,
        |  CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |  CAST(min(price_cents) AS BIGINT) AS min_cents,
        |  CAST(max(price_cents) AS BIGINT) AS max_cents
        |FROM v
        |GROUP BY coin_id
        |ORDER BY coin_id""".stripMargin,

    // Unicode-normalization census: DuckDB's own ICU recomputes the
    // strip_accents and NFC-fixed-point counts (cross-engine check of
    // the native unicode_norm expression); the NFD facts are closed-form
    // (one extra codepoint per planted precomposed vowel) since DuckDB
    // exposes no NFD
    "q_unicode_norm" ->
      """WITH a AS (
        |  SELECT lang, text,
        |    translate(text, 'aeiou', 'áéíöü') AS acc,
        |    length(text) AS len,
        |    length(text) - length(translate(text, 'aeiou', '')) AS vcnt
        |  FROM documents)
        |SELECT lang, count(*) AS docs,
        |  CAST(sum(len) AS BIGINT) AS chars,
        |  CAST(sum(vcnt) AS BIGINT) AS vowels,
        |  CAST(sum(len + vcnt) AS BIGINT) AS nfd_chars,
        |  CAST(sum(CASE WHEN nfc_normalize(acc) = acc THEN 1 ELSE 0 END)
        |    AS BIGINT) AS nfc_stable,
        |  count(*) AS roundtrip,
        |  CAST(sum(CASE WHEN strip_accents(acc) = text THEN 1 ELSE 0 END)
        |    AS BIGINT) AS restored
        |FROM a GROUP BY lang ORDER BY lang""".stripMargin,

    // round 7 (cont. 4): web-crawl curation pack. The synthetic URL CTE
    // mirrors Web.urlOf literally; everything downstream (parse,
    // canonicalize, registered domain, quota) is the operator under test.
    "q_url_canon" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://'
        |    || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
        |    || 'sub' || CAST(doc_id % 7 AS VARCHAR)
        |    || '.' || source
        |    || CASE WHEN doc_id % 3 = 0 THEN '.com'
        |            WHEN doc_id % 3 = 1 THEN '.co.uk' ELSE '.org' END
        |    || '/' || lang || '/page-' || CAST(doc_id % 40 AS VARCHAR)
        |    || '?'
        |    || CASE WHEN doc_id % 2 = 0
        |        THEN 'utm_source=feed&id=' || CAST(doc_id % 100 AS VARCHAR) || '&ref=x'
        |        ELSE 'id=' || CAST(doc_id % 100 AS VARCHAR) || '&q=' || lang END
        |    || CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, url,
        |    regexp_replace(lower(regexp_extract(url, '^https://([^/]+)', 1)),
        |                   '^www\.', '') AS host,
        |    regexp_extract(url, '^https://[^/]+([^?#]*)', 1) AS path,
        |    string_split(regexp_extract(url, '\?([^#]*)', 1), '&') AS params
        |  FROM u),
        |k AS (
        |  SELECT doc_id, url, host, path, params,
        |    list_filter(params, pp -> NOT (starts_with(pp, 'utm_')
        |                                   OR starts_with(pp, 'ref='))) AS kept
        |  FROM p)
        |SELECT doc_id, url, host, path,
        |  CAST(len(params) AS BIGINT) AS n_params,
        |  CAST(len(params) - len(kept) AS BIGINT) AS n_dropped,
        |  'https://' || host || path ||
        |    CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
        |         ELSE '' END AS canon_url
        |FROM k
        |ORDER BY doc_id""".stripMargin,

    // canonical-URL dedup: one row per registered domain; survivor =
    // min doc_id per canonical URL, the repo-wide dedup convention
    "q_dedup_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://'
        |    || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
        |    || 'sub' || CAST(doc_id % 7 AS VARCHAR)
        |    || '.' || source
        |    || CASE WHEN doc_id % 3 = 0 THEN '.com'
        |            WHEN doc_id % 3 = 1 THEN '.co.uk' ELSE '.org' END
        |    || '/' || lang || '/page-' || CAST(doc_id % 40 AS VARCHAR)
        |    || '?'
        |    || CASE WHEN doc_id % 2 = 0
        |        THEN 'utm_source=feed&id=' || CAST(doc_id % 100 AS VARCHAR) || '&ref=x'
        |        ELSE 'id=' || CAST(doc_id % 100 AS VARCHAR) || '&q=' || lang END
        |    || CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, url,
        |    regexp_replace(lower(regexp_extract(url, '^https://([^/]+)', 1)),
        |                   '^www\.', '') AS host,
        |    regexp_extract(url, '^https://[^/]+([^?#]*)', 1) AS path,
        |    string_split(regexp_extract(url, '\?([^#]*)', 1), '&') AS params
        |  FROM u),
        |k AS (
        |  SELECT doc_id, host,
        |    'https://' || host || path ||
        |      CASE WHEN len(list_filter(params, pp ->
        |               NOT (starts_with(pp, 'utm_') OR starts_with(pp, 'ref=')))) > 0
        |           THEN '?' || array_to_string(list_filter(params, pp ->
        |               NOT (starts_with(pp, 'utm_') OR starts_with(pp, 'ref='))), '&')
        |           ELSE '' END AS canon_url
        |  FROM p),
        |per_url AS (
        |  SELECT canon_url, count(*) AS n_copies,
        |    CAST(min(doc_id) AS BIGINT) AS survivor, max(host) AS host
        |  FROM k GROUP BY canon_url),
        |r AS (SELECT *, string_split(host, '.') AS ls,
        |             len(string_split(host, '.')) AS nl
        |      FROM per_url),
        |d AS (
        |  SELECT n_copies, survivor,
        |    CASE WHEN ls[nl-1] || '.' || ls[nl] IN ('co.uk', 'com.au')
        |         THEN ls[nl-2] || '.' || ls[nl-1] || '.' || ls[nl]
        |         ELSE ls[nl-1] || '.' || ls[nl] END AS registered_domain
        |  FROM r)
        |SELECT registered_domain,
        |  CAST(sum(n_copies) AS BIGINT) AS n_docs,
        |  count(*) AS n_urls,
        |  CAST(sum(n_copies) - count(*) AS BIGINT) AS dup_docs,
        |  CAST(max(n_copies) AS BIGINT) AS max_copies,
        |  CAST(min(survivor) AS BIGINT) AS first_survivor
        |FROM d GROUP BY registered_domain
        |ORDER BY registered_domain""".stripMargin,

    "q_domain_stats" ->
      """WITH u AS (
        |  SELECT doc_id, lang, n_chars,
        |    'https://'
        |    || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
        |    || 'sub' || CAST(doc_id % 7 AS VARCHAR)
        |    || '.' || source
        |    || CASE WHEN doc_id % 3 = 0 THEN '.com'
        |            WHEN doc_id % 3 = 1 THEN '.co.uk' ELSE '.org' END
        |    || '/' || lang || '/page-' || CAST(doc_id % 40 AS VARCHAR)
        |    || '?'
        |    || CASE WHEN doc_id % 2 = 0
        |        THEN 'utm_source=feed&id=' || CAST(doc_id % 100 AS VARCHAR) || '&ref=x'
        |        ELSE 'id=' || CAST(doc_id % 100 AS VARCHAR) || '&q=' || lang END
        |    || CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang, n_chars,
        |    regexp_replace(lower(regexp_extract(url, '^https://([^/]+)', 1)),
        |                   '^www\.', '') AS host
        |  FROM u),
        |r AS (SELECT *, string_split(host, '.') AS ls, len(string_split(host, '.')) AS nl
        |      FROM h),
        |d AS (
        |  SELECT doc_id, lang, n_chars, host,
        |    CASE WHEN ls[nl-1] || '.' || ls[nl] IN ('co.uk', 'com.au')
        |         THEN ls[nl-2] || '.' || ls[nl-1] || '.' || ls[nl]
        |         ELSE ls[nl-1] || '.' || ls[nl] END AS registered_domain
        |  FROM r)
        |SELECT registered_domain,
        |  count(*) AS n_docs,
        |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(avg(n_chars), 4) AS avg_chars
        |FROM d
        |GROUP BY registered_domain
        |ORDER BY registered_domain""".stripMargin,

    "q_domain_cap" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |    'https://'
        |    || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
        |    || 'sub' || CAST(doc_id % 7 AS VARCHAR)
        |    || '.' || source
        |    || CASE WHEN doc_id % 3 = 0 THEN '.com'
        |            WHEN doc_id % 3 = 1 THEN '.co.uk' ELSE '.org' END
        |    || '/' || lang || '/page-' || CAST(doc_id % 40 AS VARCHAR)
        |    || '?'
        |    || CASE WHEN doc_id % 2 = 0
        |        THEN 'utm_source=feed&id=' || CAST(doc_id % 100 AS VARCHAR) || '&ref=x'
        |        ELSE 'id=' || CAST(doc_id % 100 AS VARCHAR) || '&q=' || lang END
        |    || CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, n_chars,
        |    regexp_replace(lower(regexp_extract(url, '^https://([^/]+)', 1)),
        |                   '^www\.', '') AS host
        |  FROM u),
        |r AS (SELECT *, string_split(host, '.') AS ls, len(string_split(host, '.')) AS nl
        |      FROM h),
        |d AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN ls[nl-1] || '.' || ls[nl] IN ('co.uk', 'com.au')
        |         THEN ls[nl-2] || '.' || ls[nl-1] || '.' || ls[nl]
        |         ELSE ls[nl-1] || '.' || ls[nl] END AS registered_domain
        |  FROM r),
        |rk AS (
        |  SELECT registered_domain, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY registered_domain
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM d),
        |kept AS (
        |  SELECT registered_domain, count(*) AS n_kept,
        |    CAST(sum(n_chars) AS BIGINT) AS kept_chars
        |  FROM rk WHERE rn <= 3 GROUP BY registered_domain),
        |tot AS (
        |  SELECT registered_domain, count(*) AS n_total,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars
        |  FROM d GROUP BY registered_domain)
        |SELECT t.registered_domain, n_total, n_kept,
        |  n_total - n_kept AS n_dropped, kept_chars, total_chars
        |FROM tot t JOIN kept k ON t.registered_domain = k.registered_domain
        |ORDER BY t.registered_domain""".stripMargin,

    // χ² feature selection: doc-level 2x2 contingency per (term, lang);
    // double-precision factor order mirrors TextAnalysis.chi2Terms exactly
    "q_chi2_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(list_distinct(string_split(text, ' '))) AS term
        |  FROM documents),
        |aa AS (SELECT term, lang, count(*) AS a FROM tok GROUP BY term, lang),
        |tt AS (SELECT term, CAST(sum(a) AS BIGINT) AS t FROM aa GROUP BY term),
        |cl AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |nn AS (SELECT count(*) AS n FROM documents),
        |s AS (
        |  SELECT aa.lang, aa.term, aa.a, tt.t, cl.c, nn.n,
        |    tt.t - aa.a AS b, cl.c - aa.a AS cc,
        |    nn.n - tt.t - cl.c + aa.a AS dd
        |  FROM aa JOIN tt USING (term) JOIN cl USING (lang) CROSS JOIN nn),
        |sc AS (
        |  SELECT lang, term, a AS docs_in_class, t AS docs_with_term,
        |    CASE WHEN n = t OR n = c THEN 0.0
        |         ELSE round(CAST(n AS DOUBLE)
        |            * (CAST(a * dd - b * cc AS DOUBLE) ** 2)
        |            / (CAST(a + b AS DOUBLE) * CAST(cc + dd AS DOUBLE)
        |               * CAST(a + cc AS DOUBLE) * CAST(b + dd AS DOUBLE)), 4)
        |    END AS chi2
        |  FROM s),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |                                   ORDER BY chi2 DESC, term) AS rnk
        |      FROM sc)
        |SELECT lang, rnk, term, docs_in_class, docs_with_term, chi2
        |FROM r WHERE rnk <= 5
        |ORDER BY lang, rnk""".stripMargin,

    // Misra-Gries certification: the boolean columns are theorems of the
    // summary (presence above N/(k+1), undercount bound, size cap) so the
    // oracle emits literal 1s next to the replayed exact counts
    "q_misra_gries" ->
      """WITH ks AS (
        |  SELECT CASE WHEN t IN ('join', 'hash', 'row') THEN t
        |              ELSE t || '_' || CAST(doc_id % 97 AS VARCHAR) END AS key
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |        FROM documents)),
        |e AS (SELECT key, count(*) AS cnt FROM ks GROUP BY key)
        |SELECT key AS term, cnt,
        |  CAST(1 AS BIGINT) AS presence_ok,
        |  CAST(1 AS BIGINT) AS le_exact_ok,
        |  CAST(1 AS BIGINT) AS bound_ok,
        |  CAST(1 AS BIGINT) AS tracked_le_k
        |FROM e
        |WHERE key IN ('join', 'hash', 'row')
        |ORDER BY term""".stripMargin,

    // daily realized volatility: 1e-6-quantized log returns make the
    // variance sum an exact BIGINT; 4*ln2 pinned as a literal
    "q_realized_vol" ->
      """WITH r AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, value,
        |    CASE WHEN value > 0 AND lag(value) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) > 0
        |      THEN CAST(round((ln(value) - ln(lag(value) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id))) * 1e6)
        |        AS BIGINT) END AS r_u
        |  FROM events),
        |g AS (
        |  SELECT user_id, day,
        |    count(r_u) AS n_returns,
        |    CAST(sum(r_u * r_u) AS BIGINT) AS rv_units,
        |    max(value) AS high, min(value) AS low
        |  FROM r GROUP BY user_id, day)
        |SELECT user_id, day, n_returns,
        |  CAST(round(CAST(rv_units AS DOUBLE) / 1e12 * 1e6) AS BIGINT) AS rv_q6,
        |  CAST(round(sqrt(CAST(rv_units AS DOUBLE) / 1e12) * 1e6) AS BIGINT)
        |    AS vol_q6,
        |  CASE WHEN low > 0 THEN CAST(round(sqrt(
        |    CAST(CAST(round(ln(high / low) * 1e6) AS BIGINT) AS DOUBLE) ** 2
        |    / 1e12 / 2.772588722239781) * 1e6) AS BIGINT) END AS park_q6
        |FROM g
        |ORDER BY user_id, day""".stripMargin,

    // CAPM beta / correlation vs the inclusive market-sum return; all
    // sums exact BIGINT cents, two final double divisions
    "q_market_beta" ->
      """WITH cl AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100) AS BIGINT) AS close,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, day,
        |    close - lag(close) OVER (PARTITION BY user_id ORDER BY day) AS x
        |  FROM cl WHERE rn = 1),
        |rr AS (SELECT user_id, day, x FROM r WHERE x IS NOT NULL),
        |mk AS (SELECT day, CAST(sum(x) AS BIGINT) AS m FROM rr GROUP BY day),
        |g AS (
        |  SELECT user_id, count(*) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(m) AS BIGINT) AS sm,
        |    CAST(sum(x * m) AS BIGINT) AS sxm,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(m * m) AS BIGINT) AS smm
        |  FROM rr JOIN mk USING (day) GROUP BY user_id)
        |SELECT user_id, n_days,
        |  CASE WHEN n_days * smm - sm * sm = 0 THEN NULL
        |       ELSE round(CAST(n_days * sxm - sx * sm AS DOUBLE)
        |            / CAST(n_days * smm - sm * sm AS DOUBLE), 6) END AS beta,
        |  CASE WHEN n_days * smm - sm * sm = 0 OR n_days * sxx - sx * sx = 0
        |       THEN NULL
        |       ELSE round(CAST(n_days * sxm - sx * sm AS DOUBLE)
        |            / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
        |               * sqrt(CAST(n_days * smm - sm * sm AS DOUBLE))), 6)
        |  END AS corr
        |FROM g
        |ORDER BY user_id""".stripMargin,

    // lead-lag cross-correlation vs the market return shifted k days
    "q_lead_lag" ->
      """WITH cl AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100) AS BIGINT) AS close,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, day,
        |    close - lag(close) OVER (PARTITION BY user_id ORDER BY day) AS x
        |  FROM cl WHERE rn = 1),
        |rr AS (SELECT user_id, day, x FROM r WHERE x IS NOT NULL),
        |mk AS (SELECT day, CAST(sum(x) AS BIGINT) AS m FROM rr GROUP BY day),
        |sh AS (
        |  SELECT mk.day - CAST(k.k AS INTEGER) AS day, CAST(k.k AS BIGINT) AS lag, mk.m
        |  FROM mk CROSS JOIN (SELECT unnest(range(-2, 3)) AS k) k),
        |g AS (
        |  SELECT user_id, lag, count(*) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(m) AS BIGINT) AS sm,
        |    CAST(sum(x * m) AS BIGINT) AS sxm,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(m * m) AS BIGINT) AS smm
        |  FROM rr JOIN sh USING (day) GROUP BY user_id, lag)
        |SELECT user_id, lag, n_days,
        |  CASE WHEN n_days * smm - sm * sm = 0 OR n_days * sxx - sx * sx = 0
        |       THEN NULL
        |       ELSE round(CAST(n_days * sxm - sx * sm AS DOUBLE)
        |            / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
        |               * sqrt(CAST(n_days * smm - sm * sm AS DOUBLE))), 6)
        |  END AS xcorr
        |FROM g
        |ORDER BY user_id, lag""".stripMargin,

    // Roll implied spread: serial covariance of cent price changes from
    // exact BIGINT sums; spread only when the covariance is negative
    "q_roll_spread" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT)
        |      - lag(CAST(round(value * 100) AS BIGINT)) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) AS d
        |  FROM events),
        |t2 AS (
        |  SELECT user_id, d,
        |    lag(d) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dprev
        |  FROM t),
        |g AS (
        |  SELECT user_id, count(*) AS n_pairs,
        |    CAST(sum(d) AS BIGINT) AS sa,
        |    CAST(sum(dprev) AS BIGINT) AS sb,
        |    CAST(sum(d * dprev) AS BIGINT) AS sab
        |  FROM t2 WHERE d IS NOT NULL AND dprev IS NOT NULL
        |  GROUP BY user_id)
        |SELECT user_id, n_pairs,
        |  CAST(round(CAST(n_pairs * sab - sa * sb AS DOUBLE)
        |        / CAST(n_pairs * n_pairs AS DOUBLE) * 1e6) AS BIGINT)
        |    AS serial_cov_q6,
        |  CAST(CASE WHEN n_pairs * sab - sa * sb < 0
        |       THEN round(2.0 * sqrt(
        |              CAST(-(n_pairs * sab - sa * sb) AS DOUBLE)
        |              / CAST(n_pairs * n_pairs AS DOUBLE)) / 100.0 * 1e6)
        |  END AS BIGINT) AS roll_spread_q6
        |FROM g
        |ORDER BY user_id""".stripMargin,

    // Amihud illiquidity: per-day |return|/volume ratio quantized to
    // 1e-9 BIGINT units so the cross-day mean is an exact integer sum
    "q_amihud" ->
      """WITH cl AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100) AS BIGINT) AS close,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, day,
        |    close - lag(close) OVER (PARTITION BY user_id ORDER BY day) AS x
        |  FROM cl WHERE rn = 1),
        |rr AS (SELECT user_id, day, x FROM r WHERE x IS NOT NULL),
        |v AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vol_cents
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)
        |  HAVING sum(CAST(round(value * 100) AS BIGINT)) > 0),
        |j AS (
        |  SELECT rr.user_id,
        |    CAST(round(CAST(abs(x) AS DOUBLE) * 1e9
        |               / CAST(vol_cents AS DOUBLE)) AS BIGINT) AS ratio_nanos
        |  FROM rr JOIN v ON rr.user_id = v.user_id AND rr.day = v.day)
        |SELECT user_id, count(*) AS n_days,
        |  round(CAST(CAST(sum(ratio_nanos) AS BIGINT) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE) / 1e9, 6) AS amihud
        |FROM j GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // Tick-rule signs with zero-tick carry-forward (IGNORE NULLS running
    // last); daily order-flow imbalance from exact BIGINT cent sums
    "q_tick_rule" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS p,
        |    CAST(round(value * 100) AS BIGINT)
        |      - lag(CAST(round(value * 100) AS BIGINT)) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) AS d
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, p,
        |    last_value(CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 END
        |               IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sign
        |  FROM t)
        |SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_ticks,
        |  CAST(sum(CASE WHEN sign = 1 THEN p ELSE 0 END) AS BIGINT)
        |    AS buy_cents,
        |  CAST(sum(CASE WHEN sign = -1 THEN p ELSE 0 END) AS BIGINT)
        |    AS sell_cents,
        |  CAST(CASE WHEN sum(CASE WHEN sign = 1 THEN p ELSE 0 END)
        |          + sum(CASE WHEN sign = -1 THEN p ELSE 0 END) > 0
        |       THEN round(
        |         CAST(sum(CASE WHEN sign = 1 THEN p ELSE 0 END)
        |            - sum(CASE WHEN sign = -1 THEN p ELSE 0 END) AS DOUBLE)
        |         / CAST(sum(CASE WHEN sign = 1 THEN p ELSE 0 END)
        |              + sum(CASE WHEN sign = -1 THEN p ELSE 0 END) AS DOUBLE)
        |         * 1e6)
        |  END AS BIGINT) AS ofi_q6
        |FROM s WHERE sign IS NOT NULL
        |GROUP BY user_id, CAST(ts AS DATE)
        |ORDER BY user_id, day""".stripMargin,

    // Kaplan-Meier time-to-conversion (48h administrative censoring):
    // survival carried as an exact BIGINT cumsum of 1e-6-quantized log
    // terms, one exp at the end
    "q_km_conversion" ->
      """WITH ud AS (
        |  SELECT user_id,
        |    min(epoch_us(ts)) AS first_us,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      AS conv_us
        |  FROM events GROUP BY user_id),
        |lt AS (
        |  SELECT
        |    CASE WHEN h IS NOT NULL AND h <= 48 THEN h ELSE 48 END AS dur,
        |    CASE WHEN h IS NOT NULL AND h <= 48 THEN 1 ELSE 0 END AS observed
        |  FROM (SELECT CAST(floor((conv_us - first_us) / 3600000000.0)
        |                AS BIGINT) AS h FROM ud)),
        |g AS (
        |  SELECT dur, CAST(sum(observed) AS BIGINT) AS d,
        |    CAST(sum(1 - observed) AS BIGINT) AS c_censored,
        |    count(*) AS total
        |  FROM lt GROUP BY dur),
        |w AS (
        |  SELECT dur, d, c_censored,
        |    CAST(sum(total) OVER (ORDER BY dur
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
        |      AS n_at_risk
        |  FROM g),
        |l AS (
        |  SELECT dur, d, c_censored, n_at_risk,
        |    CASE WHEN d = 0 THEN 0
        |         WHEN d < n_at_risk THEN CAST(round(
        |           ln(CAST(n_at_risk - d AS DOUBLE)
        |              / CAST(n_at_risk AS DOUBLE)) * 1e6) AS BIGINT)
        |    END AS ln_units
        |  FROM w),
        |c AS (
        |  SELECT dur, d, c_censored, n_at_risk,
        |    CAST(sum(ln_units) OVER (ORDER BY dur
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_ln
        |  FROM l)
        |SELECT dur, n_at_risk, d, c_censored,
        |  CAST(round(CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE) * 1e6)
        |    AS BIGINT) AS hazard_q6,
        |  CAST(CASE WHEN d = n_at_risk THEN 0
        |       ELSE round(exp(CAST(cum_ln AS DOUBLE) / 1e6) * 1e6)
        |  END AS BIGINT) AS survival_q6
        |FROM c
        |ORDER BY dur""".stripMargin,

    // Benford first-digit census: digit from the exact integer-cents
    // string prefix, pinned probabilities, chi2 parts re-quantized to
    // 1e-6 units for engine-stable rounding
    "q_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM lineitem WHERE l_extendedprice > 0),
        |g AS (SELECT digit, count(*) AS observed FROM d
        |      WHERE digit BETWEEN 1 AND 9 GROUP BY digit),
        |t AS (
        |  SELECT digit, observed,
        |    CAST(sum(observed) OVER () AS BIGINT) AS n,
        |    CASE digit
        |      WHEN 1 THEN 0.3010299956639812e0
        |      WHEN 2 THEN 0.17609125905568124e0
        |      WHEN 3 THEN 0.12493873660829993e0
        |      WHEN 4 THEN 0.09691001300805642e0
        |      WHEN 5 THEN 0.07918124604762482e0
        |      WHEN 6 THEN 0.06694678963061322e0
        |      WHEN 7 THEN 0.05799194697768673e0
        |      WHEN 8 THEN 0.05115252244738129e0
        |      WHEN 9 THEN 0.04575749056067514e0
        |      ELSE 0.0 END AS expected_p
        |  FROM g)
        |SELECT digit, observed, n, expected_p,
        |  CAST(CAST(round(
        |    (CAST(observed AS DOUBLE) - CAST(n AS DOUBLE) * expected_p)
        |    * (CAST(observed AS DOUBLE) - CAST(n AS DOUBLE) * expected_p)
        |    / (CAST(n AS DOUBLE) * expected_p) * 1e6) AS BIGINT)
        |    AS DOUBLE) / 1e6 AS chi2_part
        |FROM t
        |ORDER BY digit""".stripMargin,

    // Multi-touch attribution: dyadic decay weights (1e6 >> age-days),
    // per-purchase credit units rounded once, exact channel sums
    "q_attribution" ->
      """WITH touches AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_type AS channel
        |  FROM events WHERE event_type IN ('click', 'view', 'signup')),
        |purchases AS (
        |  SELECT user_id, epoch_us(ts) AS pus, event_id AS pid,
        |    CAST(round(value * 100) AS BIGINT) AS v_cents
        |  FROM events WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT p.user_id, p.pid, p.v_cents, t.channel,
        |    CAST(floor(1000000.0 / (1 << CAST(floor(
        |      (p.pus - t.tus) / 86400000000.0) AS INTEGER))) AS BIGINT) AS wu
        |  FROM purchases p JOIN touches t ON p.user_id = t.user_id
        |  WHERE t.tus < p.pus AND t.tus >= p.pus - 7 * 86400000000),
        |c AS (
        |  SELECT channel,
        |    CAST(round(CAST(v_cents AS DOUBLE) * 1e6
        |      / CAST(count(*) OVER w AS DOUBLE)) AS BIGINT) AS linear_units,
        |    CAST(round(CAST(v_cents * wu AS DOUBLE) * 1e6
        |      / CAST(sum(wu) OVER w AS DOUBLE)) AS BIGINT) AS decay_units
        |  FROM pairs
        |  WINDOW w AS (PARTITION BY user_id, pid))
        |SELECT channel, count(*) AS n_credits,
        |  CAST(CAST(sum(linear_units) AS BIGINT) AS DOUBLE) / 1e8
        |    AS linear_rev,
        |  CAST(CAST(sum(decay_units) AS BIGINT) AS DOUBLE) / 1e8
        |    AS decay_rev
        |FROM c GROUP BY channel
        |ORDER BY channel""".stripMargin,

    // Windowed tail monitor (batch face of streaming/StreamTail):
    // per-window exact P95 + strict-tail mean from the cents histogram
    "q_window_p95" -> graft.streaming.StreamTail.windowTailSql,

    // Winsorization: clip points from the histogram running count,
    // winsorized sum as integer algebra (total - tails + clip*counts)
    "q_winsorize" ->
      """WITH h AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, cents, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents)
        |      AS BIGINT) AS cum,
        |    CAST(sum(cnt * cents)
        |      OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT)
        |      AS cumv,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM h),
        |lo AS (
        |  SELECT event_type, cents AS p05c, cum - cnt AS nlo,
        |    cumv - cnt * cents AS vlo
        |  FROM t WHERE cum >= (n + 19) // 20
        |    AND cum - cnt < (n + 19) // 20),
        |hi AS (
        |  SELECT event_type, cents AS p95c
        |  FROM t WHERE cum >= (19 * n + 19) // 20
        |    AND cum - cnt < (19 * n + 19) // 20),
        |tot AS (
        |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(sum(cnt * cents) AS BIGINT) AS sv
        |  FROM h GROUP BY 1),
        |ab AS (
        |  SELECT h.event_type, CAST(sum(h.cnt) AS BIGINT) AS nhi,
        |    CAST(sum(h.cnt * h.cents) AS BIGINT) AS vhi
        |  FROM h JOIN hi ON h.event_type = hi.event_type
        |  WHERE h.cents > hi.p95c GROUP BY 1)
        |SELECT tot.event_type, tot.n,
        |  CAST(lo.p05c AS DOUBLE) / 100.0 AS p05,
        |  CAST(hi.p95c AS DOUBLE) / 100.0 AS p95,
        |  CAST(lo.nlo AS BIGINT) AS clipped_low,
        |  CAST(coalesce(ab.nhi, 0) AS BIGINT) AS clipped_high,
        |  CAST(CAST(round(CAST(tot.sv - lo.vlo + lo.nlo * lo.p05c
        |      - coalesce(ab.vhi, 0) + coalesce(ab.nhi, 0) * hi.p95c
        |      AS DOUBLE) / CAST(tot.n AS DOUBLE) / 100.0 * 1e6) AS BIGINT)
        |    AS DOUBLE) / 1e6 AS win_mean
        |FROM tot
        |JOIN lo ON lo.event_type = tot.event_type
        |JOIN hi ON hi.event_type = tot.event_type
        |LEFT JOIN ab ON ab.event_type = tot.event_type
        |ORDER BY tot.event_type""".stripMargin,

    // Historical VaR/ES: exact order statistic from a (type, cents)
    // histogram running-count window; tail mean is integer algebra on
    // the VaR bucket row (boundary ties counted exactly k times)
    "q_var_es" ->
      """WITH h AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, cents, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents)
        |      AS BIGINT) AS cum,
        |    CAST(sum(cnt * cents)
        |      OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT)
        |      AS cumv,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM h),
        |k AS (SELECT *, (n + 19) // 20 AS k FROM t)
        |SELECT event_type, n, CAST(k AS BIGINT) AS k,
        |  CAST(cents AS DOUBLE) / 100.0 AS var95,
        |  CAST(CAST(round(CAST(cumv - cnt * cents
        |      + (k - (cum - cnt)) * cents AS DOUBLE)
        |    / CAST(k AS DOUBLE) / 100.0 * 1e6) AS BIGINT) AS DOUBLE) / 1e6
        |    AS es95
        |FROM k
        |WHERE cum >= k AND cum - cnt < k
        |ORDER BY event_type""".stripMargin,

    // CUPED A/B readout: per-user cent sums exact, pooled/per-variant
    // moments as HUGEINT (decimal(38,0) on the Spark side), theta and
    // the adjusted means/variances as symbol-identical double algebra
    "q_ab_cuped" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT CAST((min(tus) + max(tus)) // 2 AS BIGINT) AS mid
        |      FROM e),
        |p AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN tus <= mid THEN cents ELSE 0 END) AS BIGINT)
        |      AS x,
        |    CAST(sum(CASE WHEN tus > mid THEN cents ELSE 0 END) AS BIGINT)
        |      AS y
        |  FROM e, m GROUP BY user_id),
        |c AS (
        |  SELECT CAST(user_id % 2 AS INTEGER) AS variant, count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM p GROUP BY 1),
        |g AS (
        |  SELECT variant, n, sx, sy, sxx, sxy, syy,
        |    CAST(sum(n) OVER () AS DOUBLE) AS gn,
        |    CAST(sum(sx) OVER () AS DOUBLE) AS gsx,
        |    CAST(sum(sy) OVER () AS DOUBLE) AS gsy,
        |    CAST(sum(sxx) OVER () AS DOUBLE) AS gsxx,
        |    CAST(sum(sxy) OVER () AS DOUBLE) AS gsxy
        |  FROM c),
        |t AS (
        |  SELECT variant, n, sx, sy, sxx, sxy, syy, gn, gsx,
        |    (gn * gsxy - gsx * gsy) / (gn * gsxx - gsx * gsx) AS theta,
        |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_y,
        |    (CAST(syy AS DOUBLE)
        |       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1.0) / 10000.0 AS var_y,
        |    (CAST(sxy AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1.0) / 10000.0 AS cov_xy,
        |    (CAST(sxx AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1.0) / 10000.0 AS var_x
        |  FROM g),
        |f AS (
        |  SELECT variant, n, theta, mean_y,
        |    (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |       - theta * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) - gsx / gn))
        |      / 100.0 AS mean_cuped,
        |    var_y,
        |    var_y - 2.0 * theta * cov_xy + theta * theta * var_x AS var_cuped
        |  FROM t)
        |SELECT variant, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(round(theta * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS theta,
        |  CAST(CAST(round(mean_y * 1e6) AS BIGINT) AS DOUBLE) / 1e6
        |    AS mean_y,
        |  CAST(CAST(round(mean_cuped * 1e6) AS BIGINT) AS DOUBLE) / 1e6
        |    AS mean_cuped,
        |  CAST(CAST(round(var_y * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS var_y,
        |  CAST(CAST(round(var_cuped * 1e6) AS BIGINT) AS DOUBLE) / 1e6
        |    AS var_cuped,
        |  CAST(CAST(round((1.0 - var_cuped / var_y) * 1e6) AS BIGINT)
        |    AS DOUBLE) / 1e6 AS var_reduction
        |FROM f ORDER BY variant""".stripMargin,

    // Two-sided CUSUM via the prefix-sum/running-extremum identity; all
    // deviations scaled by n so the mean stays integer; argmax by
    // struct-max with negated rn for earliest tie
    "q_cusum" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS x,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT))
        |      OVER (PARTITION BY user_id) AS BIGINT) AS tot,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, rn, n,
        |    CAST(sum(n * x - tot) OVER (PARTITION BY user_id ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS p
        |  FROM t),
        |q AS (
        |  SELECT user_id, rn, n,
        |    p - rn * n * 5 AS p_pos, p + rn * n * 5 AS p_neg
        |  FROM p),
        |s AS (
        |  SELECT user_id, rn, n,
        |    p_pos - least(0, min(p_pos) OVER (PARTITION BY user_id
        |      ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS s_pos,
        |    greatest(0, max(p_neg) OVER (PARTITION BY user_id
        |      ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      - p_neg AS s_neg
        |  FROM q),
        |g AS (
        |  SELECT user_id, max(n) AS n,
        |    max({'s': s_pos, 'nr': -rn}) AS pk_pos,
        |    max({'s': s_neg, 'nr': -rn}) AS pk_neg
        |  FROM s GROUP BY user_id)
        |SELECT user_id, n,
        |  CAST(round(CAST(pk_pos.s AS DOUBLE) / CAST(n AS DOUBLE))
        |    AS BIGINT) AS peak_up_cents,
        |  -pk_pos.nr AS peak_up_rn,
        |  CAST(round(CAST(pk_neg.s AS DOUBLE) / CAST(n AS DOUBLE))
        |    AS BIGINT) AS peak_down_cents,
        |  -pk_neg.nr AS peak_down_rn
        |FROM g
        |ORDER BY user_id""".stripMargin,

    // Hurst exponent by R/S: within-block range and variance as exact
    // BIGINTs (the block-size factors cancel in the ratio), per-block
    // ln(R/S) quantized to 1e-6 units, slope closed-form over ln(s)
    "q_hurst" ->
      """WITH r0 AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(round((ln(value) - ln(lag(value) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id))) * 1e6)
        |      AS BIGINT) AS r
        |  FROM events),
        |rets AS (
        |  SELECT user_id, r,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM r0 WHERE r IS NOT NULL),
        |b AS (
        |  SELECT user_id, r, rn, CAST(sc.s AS BIGINT) AS s,
        |    (rn - 1) // sc.s AS blk,
        |    (rn - 1) % sc.s + 1 AS i
        |  FROM rets CROSS JOIN (SELECT unnest([8, 16, 32]) AS s) sc),
        |c AS (
        |  SELECT user_id, s, blk, r, i,
        |    CAST(sum(r) OVER (PARTITION BY user_id, s, blk ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(r) OVER (PARTITION BY user_id, s, blk)
        |      AS BIGINT) AS tot
        |  FROM b),
        |pb AS (
        |  SELECT user_id, s, blk, count(*) AS cnt,
        |    max(s * cum - i * tot) AS max_sy,
        |    min(s * cum - i * tot) AS min_sy,
        |    CAST(sum(r * r) AS BIGINT) AS sum_r2, max(tot) AS tot
        |  FROM c GROUP BY user_id, s, blk),
        |rs AS (
        |  SELECT user_id, s, count(*) AS n_blocks,
        |    CAST(sum(CAST(round(ln(CAST(max_sy - min_sy AS DOUBLE)
        |      / sqrt(CAST(s * sum_r2 - tot * tot AS DOUBLE))) * 1e6)
        |      AS BIGINT)) AS BIGINT) AS su
        |  FROM pb WHERE cnt = s AND s * sum_r2 - tot * tot > 0
        |  GROUP BY user_id, s),
        |m AS (
        |  SELECT user_id, s, n_blocks,
        |    CAST(round(CAST(su AS DOUBLE) / CAST(n_blocks AS DOUBLE))
        |      AS BIGINT) AS mu
        |  FROM rs),
        |p AS (
        |  SELECT user_id,
        |    max(CASE WHEN s = 8 THEN n_blocks END) AS n8,
        |    max(CASE WHEN s = 16 THEN n_blocks END) AS n16,
        |    max(CASE WHEN s = 32 THEN n_blocks END) AS n32,
        |    max(CASE WHEN s = 8 THEN mu END) AS m8u,
        |    max(CASE WHEN s = 16 THEN mu END) AS m16u,
        |    max(CASE WHEN s = 32 THEN mu END) AS m32u
        |  FROM m GROUP BY user_id)
        |SELECT user_id, n8, n16, n32,
        |  CAST(m8u AS DOUBLE) / 1e6 AS rs8,
        |  CAST(m16u AS DOUBLE) / 1e6 AS rs16,
        |  CAST(m32u AS DOUBLE) / 1e6 AS rs32,
        |  CAST(CAST(round(CAST(m32u - m8u AS DOUBLE)
        |    / (2 * 0.6931471805599453)) AS BIGINT) AS DOUBLE) / 1e6 AS hurst
        |FROM p
        |WHERE n8 IS NOT NULL AND n16 IS NOT NULL AND n32 IS NOT NULL
        |ORDER BY user_id""".stripMargin,

    // Kyle lambda: OLS slope of cent price change on tick-signed cent
    // volume; exact BIGINT moments, one final double division
    "q_kyle_lambda" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS p,
        |    CAST(round(value * 100) AS BIGINT)
        |      - lag(CAST(round(value * 100) AS BIGINT)) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) AS d
        |  FROM events),
        |s AS (
        |  SELECT user_id, p, d,
        |    last_value(CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 END
        |               IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sign
        |  FROM t),
        |g AS (
        |  SELECT user_id, count(*) AS n_ticks,
        |    CAST(sum(sign * p) AS BIGINT) AS sx,
        |    CAST(sum(d) AS BIGINT) AS sy,
        |    CAST(sum(sign * p * d) AS BIGINT) AS sxy,
        |    CAST(sum(sign * p * sign * p) AS BIGINT) AS sxx
        |  FROM s WHERE sign IS NOT NULL AND d IS NOT NULL
        |  GROUP BY user_id)
        |SELECT user_id, n_ticks,
        |  CASE WHEN n_ticks * sxx - sx * sx = 0 THEN NULL
        |       ELSE round(CAST(n_ticks * sxy - sx * sy AS DOUBLE)
        |            / CAST(n_ticks * sxx - sx * sx AS DOUBLE), 6)
        |  END AS kyle_lambda
        |FROM g
        |ORDER BY user_id""".stripMargin,

    // Apriori first two passes: frequent item pairs with lift; exact
    // integer supports, one double division at the end
    "q_item_pairs" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |f AS (SELECT l_partkey, count(*) AS f FROM b
        |      GROUP BY l_partkey HAVING count(*) >= 3),
        |p AS (
        |  SELECT b1.l_partkey AS p1, b2.l_partkey AS p2, count(*) AS support
        |  FROM b b1
        |  JOIN b b2 ON b1.l_orderkey = b2.l_orderkey
        |            AND b1.l_partkey < b2.l_partkey
        |  JOIN f f1 ON b1.l_partkey = f1.l_partkey
        |  JOIN f f2 ON b2.l_partkey = f2.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |n AS (SELECT count(*) AS n_orders FROM orders)
        |SELECT p1, p2, support, f1.f AS f1, f2.f AS f2,
        |  round(CAST(support * n_orders AS DOUBLE)
        |        / CAST(f1.f * f2.f AS DOUBLE), 6) AS lift
        |FROM p
        |JOIN f f1 ON p.p1 = f1.l_partkey
        |JOIN f f2 ON p.p2 = f2.l_partkey
        |CROSS JOIN n
        |ORDER BY support DESC, p1, p2
        |LIMIT 20""".stripMargin,
  )
}
