package graft

import org.scalatest.funsuite.AnyFunSuite

/** Determinism under partitioning (SCALING.md / Canon's exact-integer-sum
  * contract): the same query must produce the SAME rows whether the shuffle
  * fans out over 3 partitions or 8 — if results drift with partition count
  * at sf0.001, they drift with executor count at 100 TB. Exercises the ops
  * whose arithmetic most depends on accumulation order (float aggs, OLS
  * fits, interpolation, per-series model fits). */
class PartitionInvarianceSpec extends AnyFunSuite {
  import TestSession._

  private val sensitive = Seq(
    "agg_stats", "agg_pricing_summary", "ts_interp_linear",
    "forecast_linear_trend", "forecast_prophet_like",
    "forecast_seasonal_naive", "text_tfidf_terms",
    // round 6: new accumulation-order-sensitive shapes
    "ts_seasonal_strength", "tpch_q9", "tpch_q22", "text_ngram_coverage",
    "pipeline_curriculum", "agg_bitmap_distinct",
    // round 7: scaled-integer centroid/moment sums, boilerplate df
    // threshold, posting collection, incremental labels + refreshed sets
    "embed_outliers", "text_boilerplate_ngrams", "text_inverted_index",
    "pipeline_neardup_incremental", "pipeline_neardup_refresh",
    "pipeline_tokenizer_fit",
    // round 7b: corpus-wide gram counts + scaled-integer surprisal bands,
    // and the integer-PageRank fixpoint (exact ⇒ invariant by construction)
    "dedup_substring", "pipeline_gopher_rules", "pipeline_perplexity_gate",
    "graph_pagerank", "graph_triangle_count", "graph_shortest_paths",
    "ts_dtw_distance",
    // round 7c: windowed arg-max voting, per-row integer classifier/score
    "graph_label_propagation", "pipeline_domain_classifier",
    "text_readability", "graph_resource_allocation", "dedup_keeper_quality",
    "agg_ks_drift", "dedup_containment",
    // round 7d: dataset-audit tier — exact-integer stats + keyed windows
    "agg_chi2_independence", "agg_gini_concentration",
    "pipeline_token_budget", "text_source_similarity",
    // round 8: scaled-integer entropy/MI sums + iterative peel joins
    "agg_entropy_balance", "graph_kcore", "agg_mutual_information",
    // round 8b: curation tier — scaled-integer BM25/DSIR/temperature sums,
    // exact-integer covariance moments, scaled-ln link-prediction weights
    "text_bm25_search", "pipeline_dsir_weights", "pipeline_mix_temperature",
    "embed_covariance", "embed_pca_variance", "graph_adamic_adar",
    "graph_jaccard_linkpred", "embed_mmr_rerank",
    "pipeline_ccnet_bucket", "agg_bootstrap_ci", "sim_eval_label_precision",
    "pipeline_dsir_ess", "pipeline_epoch_plan", "dedup_crossmodal_agreement",
    // round 8c: lifecycle tier — IEEE multiply-chain S-curve sums, κ from
    // conditional counts, discrete-percentile clamping, moment-sum Newman r
    "dedup_lsh_tuning", "agg_rater_agreement", "agg_winsorize",
    "agg_join_size_audit", "pipeline_snapshot_diff",
    "pipeline_incremental_agg", "graph_assortativity",
    "pipeline_quota_sample", "agg_k_anonymity", "cdc_apply_deletes",
    "win_gaps_islands", "graph_modularity", "agg_benford_audit",
    "pipeline_profile_columns", "scd2_point_in_time", "text_bpe_fertility",
    "embed_norm_stats", "graph_local_clustering", "agg_theil_inequality",
    // round 9: drift trio (scaled-ln integer folds + exact chi2 reuse),
    // discrete-decile PSI cutpoints, rolling BIGINT Pearson folds,
    // majority-vote counts, algebraic join-merge proof
    "agg_psi_drift", "agg_psi_drift_quantile", "agg_js_divergence",
    "agg_cramers_v", "ts_rolling_corr", "pipeline_label_vote",
    "pipeline_incremental_join",
    // round 10: the release composition (flag-manifest chain — every stage
    // verdict must be a pure function of the row, never of partitioning)
    "pipeline_release_e2e", "pipeline_release_incremental",
    "pipeline_rejection_reasons", "scan_csv_malformed",
    "scan_json_malformed", "pipeline_pii_audit",
    // round 10d rank tests: exact ×2-scaled rank integers; z/rho are single
    // mirrored float expressions over those exact BIGINTs
    "agg_mannwhitney_u", "agg_spearman_corr",
    // round 10b: audit rows whose replayable columns are exact integer
    // folds and whose verdicts carry wide deterministic margins (the ANN
    // recall audit is excluded: its IVF/PQ training accumulates floats
    // whose partition order may shift low bits without moving verdicts)
    "dedup_minhash_audit", "dedup_simhash_audit", "forecast_skill_audit",
    // round 12: per-key backtest audit — exact integer identity columns,
    // verdicts from a per-group sequential fit (partition-order free)
    "forecast_prophet_backtest_audit",
    // round 13: the variants audit shares that shape (4 per-group fits);
    // the hash/decode audits are exact counts + decimal-sum signatures;
    // tokenizer-fit emits the argmax merge table (exact weighted counts)
    "forecast_variants_backtest_audit", "fn_hash_native_audit",
    "multimodal_decode_audit", "stream_constraint_monitor",
    // sequential-fold cosine per row + deterministic tie-break rank
    "pipeline_decontaminate_semantic",
    // round 14: partition-pruned scan + DPP join — exact cent sums over
    // whichever task layout the pruned listing produces
    "scan_parquet_partitioned", "join_dpp_date",
    // round 14: RRF fusion — integer ranks from deterministic orderings
    // (scaled-BIGINT BM25; the bit-identical sequential-fold cosine), so
    // the fused integer scores are partition-order free
    "sim_rrf_fusion",
    // round 14: CMS counters are exact integers merged by addition —
    // estimates must be identical under any partitioning (and, for the
    // streaming twin, any micro-batch split)
    "agg_cms_freq", "stream_cms_freq",
    // round 14: reconciliation rides exact-BIGINT OLS moments and a
    // scaled-integer cross-user denominator — no float accumulation
    "forecast_reconcile_hierarchy",
    // round 14: the perceptron trainer is an integer fixpoint — every
    // epoch's error set and weight update must be partition-order free
    "pipeline_train_classifier", "pipeline_classifier_eval",
    // round 14: min-label CC is the exact-integer dedup fixpoint reused
    "graph_connected_components",
    // round 14: exact-integer rolling order statistic and observe counters
    "ts_rolling_median", "pipeline_observe_metrics", "stream_observe_metrics",
    // round 15: cap audit = exact counts; decomposed numbering = bucketed
    // row_number + prefix-sum offsets (ties broken by exact keys);
    // idempotent sink = keep-latest max_by fold (commutative/idempotent);
    // real codecs = per-file integer pixel/sample folds; CBO star = exact
    // cent sums under whatever join order the optimizer picks
    "graph_cooc_cap_audit", "win_rn_decomposed", "stream_idempotent_sink",
    "multimodal_decode_real", "multimodal_resize_real", "multimodal_decode_wav",
    "join_cbo_star",
    // round 15: SQ8 — scales are exact per-dim maxima (order-free), codes
    // deterministic rounding, scores per-row sequential folds (unlike the
    // IVF/PQ audit, NO float training accumulation exists to exclude)
    "sim_sq8_ann", "sim_sq8_recall_audit",
    // the shared exact top-k (cosine desc, ties to the lower vec_id) over
    // deterministic candidates: broadcast queries, seeded LSH planes, and
    // PQ codebooks fit on the driver over a vec_id-sorted sample
    "sim_cosine_topk", "sim_filtered_topk", "sim_lsh_ann", "sim_pq_ann",
    // Canon.ln6 exact-integer sums: entropy, surprisal, PMI and Zipf folds,
    // the A-ES sampling key, the streaming mix entropy
    "text_entropy", "text_unigram_logprob", "text_pmi_bigrams",
    "text_zipf_fit", "sample_reservoir_weighted", "stream_mix_monitor")

  private def runAt(name: String, parts: String): Array[String] = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    // the release manifest is process-cached (persisted-state semantics);
    // clear it so each partition setting genuinely re-derives the flags
    graft.ops.Pipeline.clearReleaseManifestCache()
    try SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  for (name <- sensitive) {
    test(s"$name: identical results at 3 vs 8 shuffle partitions") {
      val a = runAt(name, "3")
      val b = runAt(name, "8")
      assert(a.length == b.length, s"row count ${a.length} vs ${b.length}")
      val firstDiff = a.zip(b).indexWhere { case (x, y) => x != y }
      if (firstDiff != -1)
        fail(s"first differing row #$firstDiff:\n${a(firstDiff)}\n${b(firstDiff)}")
    }
  }
}
