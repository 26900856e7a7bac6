package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dumps `explain("formatted")` for the headline queries into PLANS.md —
  * the scale-relevant plan properties (PushedFilters, broadcast joins,
  * partial aggregation, single Window operators, codegen stars) as a
  * reviewable artifact. Regenerate with:
  *   tools/run_main.sh graft.Plans /root/testdata/sf0.001 PLANS.md
  */
object Plans {
  val Headliners: Seq[String] = Seq(
    "q1_agg", "q3_top_orders", "q_coin_table", "q_price_chart",
    "q_latest_per_key", "q_indicators", "q_dedup_minhash_lsh",
    "q_ann_topk", "q_sessionize",
    // round 3: shuffle-hinted candidate join, map-side packs, native dot
    "q_dedup_jaccard", "q_vocab", "q_pack_sequences", "q_zorder",
    // round 3 cont.: clustered semantic dedup, posting-list build,
    // zero-shuffle classifier pass, exact integer-moment variance
    "q_dedup_semantic", "q_inverted_index", "q_quality_classifier",
    "q_exact_variance",
    // round 4: pinned-adjacency graph loop, domain-collapsed skyline,
    // broadcast-centroid Lloyd rounds
    "q_pagerank", "q_skyline", "q_ivf_kmeans",
    // round 4 cont.: broadcast-dim multi-join, single-shuffle path
    // analytics, blocked fuzzy self-join, aggregate-only novelty
    "q_trade_volume", "q_drawdown", "q_fuzzy_pairs", "q_ngram_novelty",
    // round 4 cont.: shared-exchange directional containment, shard-
    // parallel epoch shuffle, v2 state fold over the DSv2 feed
    "q_containment", "q_epoch_shuffle", "q_state_v2",
    // round 5: salted shuffled-hash pair probe (no corpus broadcast)
    "q_dedup_embedding",
    // round 5 cont.: vocab-sized BPE pair agg, partition-reusing span
    // coverage, hub-capped wedge self-join
    "q_bpe_pairs", "q_dup_spans", "q_link_predict",
    // round 5 cont.: histogram-ranked CCNet terciles (no doc-level window)
    "q_perplexity",
    // round 6: suffix-array doubling final stage (adjacent-LCP assembly)
    "q_longest_dup_span",
    // round 6 cont.: broadcast-ADC PQ search, broadcast-model DSIR,
    // double-TakeOrdered rank fusion
    "q_ann_pq", "q_dsir", "q_hybrid_rrf",
    // round 6 cont.: one-exchange span excision, collect_set pair census
    "q_span_scrub", "q_source_overlap",
    // round 6 cont.: DSv2 pushed-aggregation scan (closed-form rows)
    "q_ticker_agg",
    // round 6 cont.: SMJ full-outer CDC merge with pruned slices,
    // edge-pruned k-core peel, flat-row silhouette, bounded-fanout PMI,
    // integer-exact KS drift
    "q_cdc_merge", "q_kcore", "q_silhouette", "q_pmi", "q_ks_drift",
    // round 6 cont.: broadcast-sketch count-min probe, semi/anti
    // existence duals, partial-TopK mutual kNN graph, three-pass DQ suite
    "q_countmin", "q_semi_anti", "q_knn_graph", "q_dq_checks",
    "q_label_prop",
    // round 6 cont.: incremental two-cell Holt window, sketch-only
    // join sizing
    "q_holt", "q_join_size",
    // round 6 cont.: integer-exact eval pack + multi-probe index remedy
    "q_auc", "q_pr_curve", "q_ndcg", "q_multiprobe",
    // round 6 tail: forecasting loop, dedup tuning, prep accounting
    "q_forecast_compare", "q_anomaly", "q_minhash_acc", "q_dedup_sweep",
    "q_prep_funnel",
    // round 7: column-algebra media codecs (scan→explode→partial agg),
    // zero-shuffle PII scrub, sub-sharded packing cumsum, chunk explode,
    // distributed-ntile calibration (histogram cumsum, no global sort)
    "q_bmp_decode", "q_wav_decode", "q_pii_scan", "q_pack_bins",
    "q_chunk_chars", "q_calibration",
    // round 7 cont.: one-pass O(d²)-state covariance UDAF (no explode),
    // bounded-matrix power iteration, broadcast JL sign projection
    "q_embed_cov", "q_power_iter", "q_jl_project",
    // round 7 cont.: zero-shuffle broadcast-coefficient projection,
    // bounded-pool greedy MMR over a partial top-N
    "q_pca_scores", "q_mmr_rerank", "q_cov_drift",
    // round 7 cont.: three-level KN backoff — gram-key co-partitioned
    // joins, broadcast scalar totals
    "q_kn_trigram",
    // round 7 cont. 4: web curation (zero-shuffle canon, domain-bounded
    // quota via TopKPerKey) + chi-square selection
    "q_url_canon", "q_domain_cap", "q_chi2_terms",
    // round 8: deflation loop on the d²-bounded matrix, histogram-as-
    // sketch quantiles (map-side partial agg, bounded windows), Gear CDC
    // with the materialization-barrier exchange, corpus-scaled LSH kNN
    "q_pca_topk", "q_quantile_sketch", "q_cdc_chunks", "q_cdc_dedup",
    // round 9: version-tagged single-pass incremental CDC census;
    // multi-probe compensation for capped LSH buckets
    "q_cdc_incremental", "q_knn_compensated",
    // round 9 cont.: broadcast-centroid IVF maintenance + recall gain,
    // vocab-prefiltered benchmark span search and its excision form
    "q_ivf_maintenance", "q_ivf_retrain_gain",
    "q_decontam_spans", "q_decontam_scrub")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = LocalSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans for headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. What to look for:\n")
    sb.append("`PushedFilters` on every scan, `BroadcastHashJoin` for dims,\n")
    sb.append("partial+final `HashAggregate`, indicator `Window` operators\n")
    sb.append("sharing one Exchange+Sort, `*` = whole-stage codegen.\n")
    Headliners.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize AQE so the printed plan is the executed one
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(FormattedMode).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
