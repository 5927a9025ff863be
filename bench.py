"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full computation, no
driver collect, no disk write) — measures the engine, not the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # TPC-H-shaped relational suite
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q12_priority_counts",
    "q14_promo_revenue",
    "q16_supplier_cnt",
    "q18_large_volume",
    "q19_disjunctive",
    "q22_idle_customers",
    # operator/pipeline shapes
    "segment_revenue",
    "rank_window",
    "events_hourly",
    "sessionize",
    "topk_per_group",
    "udf_charge",
    "unique_rows",
    # LLM-pipeline operators
    "text_quality",
    "dedup_minhash_pairs",
    "embed_topk",
]

# Second, separately-totaled group (added r2): the corpus/retrieval suite.
# Kept OUT of the frozen 25-query headline list so headline totals stay
# comparable across rounds.
CORPUS = [
    "vocab_top_terms",
    "tfidf_top_terms",
    "bm25_docs",
    "pack_sequences",
    "doc_chunks",
]

# Third group (added late r2): training-data hygiene / statistics suite.
HYGIENE = [
    "decontaminate_docs",
    "boilerplate_ngrams_docs",
    "quality_gate_docs",
    "gopher_rules_docs",
    "unigram_surprisal_docs",
    "zipf_slope_sources",
    "mixture_sample_docs",
    "semantic_dedup_keep",
    "version_diff_docs",
    "source_caps_docs",
    "incremental_dedup_docs",
    "triangle_count_emb",
    "kmeans_clusters_emb",
    "dsir_select_docs",
    "repeated_spans_docs",
]


# Fourth group (added r3): batch twins of the streaming windows, graph
# operators, and the new curation/multimodal ops — none were in a timed
# group before.  Additive: the three existing ledgers keep their keys.
EXTENDED = [
    "session_window_native",
    "sliding_window_events",
    "asof_join_events",
    "range_join_events",
    "pagerank_event_transitions",
    "connected_components_star_docs",
    "percentiles_events",
    "segment_dedup_docs",
    "video_frames_decode",
    "multimodal_decode",
]


# Fifth/sixth groups (added late r3): the text-curation operators and the
# analytics/layout operators built this round.  Additive: earlier ledgers
# keep their keys for round-over-round comparison.
CURATION = [
    "normalize_text_docs",
    "bigram_lm_docs",
    "heldout_lm_docs",
    "ngram_novelty_docs",
    "bloom_decontaminate_docs",
    "heavy_hitters_tokens",
    "sparse_cosine_docs",
    "feature_hash_docs",
    "collocations_docs",
    "token_budget_select_docs",
    "dedup_keep_best_docs",
    "incremental_near_dup_docs",
    "dup_size_histogram_docs",
]

# Remaining TPC-H shapes not in the frozen headline list — completes the
# 22-query timing evidence as its own ledger.
TPCH_REST = [
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q17_small_quantity",
    "q20_excess_shippers",
    "q21_waiting_suppliers",
]

# Mining group (added late r3): partial-dup containment, hard-negative
# mining, char-entropy quality.
MINING = [
    "containment_pairs_docs",
    "hard_negatives_emb",
    "char_entropy_docs",
    "weighted_sample_docs",
    "bpe_encode_docs",
    "readability_docs",
    "js_divergence_sources",
    "rrf_fuse_docs",
    "semantic_decontam_emb",
    "padding_waste_docs",
    "mmr_rerank_emb",
    "vocab_coverage_docs",
    "cluster_quality_emb",
]

ANALYTICS = [
    "bloom_join_orders",
    "funnel_events",
    "retention_cohorts_events",
    "drift_psi_events",
    "mad_outliers_events",
    "zorder_events",
    "hll_union_invariant",
    "rolling_zscore_events",
    "regr_trend_events",
    "ab_test_events",
    "mi_lang_source_docs",
    "cooccurrence_events",
    "resample_ffill_events",
    "winsorize_events",
    "benford_prices",
    "markov_events",
    "session_paths_events",
    "key_skew_orders",
    "attribution_events",
    "ship_latency_orders",
    "growth_curve_events",
    "wau_events",
    "gini_customers",
    "rfm_customers",
    "seasonality_events",
    "hourly_load_events",
]

# Diagnostics group (added r4): rank/independence tests, change-point,
# disorder audit, mixture sampling, sharding, graph coefficient.
# Additive: all earlier ledgers keep their keys.  The two live-streaming
# registry queries (stream_*_events) are deliberately NOT benched — they
# time Structured Streaming machinery (checkpoint dirs, state store,
# trigger latency), not engine throughput.
DIAGNOSTICS = [
    "mann_whitney_events",
    "chi_squared_events",
    "changepoint_events",
    "disorder_events",
    "temperature_sample_docs",
    "shard_assign_docs",
    "clustering_coeff_emb",
    "ols_multi_events",
    "pca_power_emb",
    "logistic_quality_docs",
    "k_anonymity_events",
    "lang_confusion_docs",
    "acf_events",
    "profile_orders",
    "record_linkage_customers",
    "scd2_customers",
    "incremental_rollup_orders",
    "seasonal_anomalies_events",
    "k_anonymize_events",
]

# round-5 additions: persisted-index ingest, graph/survival/EWMA/
# concurrency analytics, chi2 selection, cross-source dup, int8
# quantization, stratified splits, PII density, centroid cosine,
# conversion latency (streaming twins are excluded: their cost is the
# micro-batch harness, not engine throughput)
ROUND5 = [
    "incremental_near_dup_indexed_docs",
    "pagerank_orders",
    "ewma_events",
    "kaplan_meier_orders",
    "concurrency_events",
    "chi2_token_lang_docs",
    "cross_source_dup_matrix_docs",
    "int8_quantize_emb",
    "label_centroid_cosine_emb",
    "pii_density_docs",
    "stratified_split_docs",
    "time_to_convert_events",
    "quantile_normalize_events",
    "pii_pattern_counts_docs",
    "embedding_norm_stats_emb",
    "distinctive_terms_sources",
    "image_ahash_pairs",
    "calibration_logistic_docs",
    "strip_markup_docs",
    "audio_fingerprint_wav",
    "activity_islands_events",
    "cohort_ltv_events",
    "funnel_stepwise_events",
    "auto_salted_revenue_events",
    "cuped_adjusted_events",
    "linear_attribution_events",
    "poisson_bootstrap_events",
    "dp_noisy_counts_events",
    "cms_tokens_docs",
    "holt_linear_events",
    "nelson_aalen_orders",
    "theil_sen_events",
    "skew_kurtosis_events",
    "did_revenue_events",
    "ipw_value_events",
    "position_attribution_events",
    "hits_customer_supplier",
    "random_projection_emb",
    "fd_violations_orders",
    "ndcg_label_emb",
    "minhash_calibration_docs",
    "holt_winters_events",
    "image_patches_bmp",
    "xcorr_events",
    "l_diversity_events",
    "prefix_dim_quality_emb",
    "auc_doclen_en",
    "pr_curve_docs",
    "kappa_langid_docs",
    "deterministic_shuffle_docs",
    "time_decay_attribution_events",
    "abc_customers",
    "burstiness_events",
    "bloom_fpr_docs",
    "logrank_orders",
    "script_ratio_docs",
    "bytes_per_token_docs",
    "reciprocal_nn_emb",
    "dp_noisy_revenue_events",
    "ppr_suppliers",
    "ks_test_events",
    "two_proportion_events",
    "mahalanobis_events",
    "corpus_summary_docs",
    "revenue_waterfall_orders",
    "resample_interpolate_events",
    "gini_mean_diff_events",
    "rolling_corr_events",
]


ROUND5B = [
    # second r5 session: correlation/CI family
    "spearman_daily_events", "kendall_daily_events",
    "weighted_median_lineitem", "wilson_ci_events",
    "partial_corr_events", "pairwise_means_events", "trend_test_events",
    # privacy / eval
    "t_closeness_events", "mcnemar_gates_docs", "mrr_label_emb",
    "eb_shrunk_rate_sources",
    # graph / structure
    "degree_assortativity_orders", "kcore_orders",
    "markov_entropy_events", "heaps_law_docs", "density_grid_emb",
    # growth / monitoring
    "growth_accounting_events", "bounce_rate_events",
    "mase_backtest_events", "cusum_daily_events",
    # quality gates
    "referential_orphans_q", "pk_violations_q", "near_dup_orders",
    "code_switch_docs",
    # llm / embedding / survival
    "embedding_drift_emb", "doc_keywords_docs", "rmst_orders",
    # second wave
    "brier_decomp_docs", "neyman_allocation_events",
    "rolling_wau_events", "intrinsic_dim_emb", "pruning_sim_orders",
    "shard_rebalance_docs", "incremental_join_orders",
    "dwell_time_events",
    # third wave
    "skyline_orders", "runs_test_events", "theil_u_docs",
    "sequential_obf_events", "rdd_events", "tenure_hazard_events",
    "revenue_share_tree", "chi2_residuals_docs",
    "power_analysis_events", "lorenz_curve_customers",
    "negative_sampling_tokens", "markov_attribution_events",
    "cosine_histogram_emb", "daily_value_bands_events",
    "freshness_events",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    import tabsdata_spark as td
    from tabsdata_spark import queries as registry
    from tabsdata_spark.scale import invocation

    spark = td.get_spark(app_name="tabsdata-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = registry.queries()

    # Box-calibration probe (r7 verdict): a fixed canonical parquet
    # scan-agg, timed BEFORE the query warmup so rounds can normalize the
    # headline number against box state (the r7 driver bench moved +15%
    # on an idle-code tree purely from box degradation).  One untimed run
    # absorbs the JVM/codegen cold start for this shape (cold-start is
    # startup noise, not box speed); the median of three timed runs is
    # the calibration value.
    from pyspark.sql import functions as F

    def _probe():
        (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
         .groupBy("l_returnflag", "l_linestatus")
         .agg(F.sum("l_quantity").alias("sq"),
              F.avg("l_extendedprice").alias("ap"),
              F.count("*").alias("n"))
         .write.format("noop").mode("overwrite").save())

    _probe()
    probe_times = []
    for _ in range(3):
        t0 = time.perf_counter()
        _probe()
        probe_times.append(time.perf_counter() - t0)
    calibration = round(sorted(probe_times)[1], 3)

    # Concurrent-stream calibration (r9 verdict): the single-stream probe
    # misses multi-core contention — r9's driver bench read headline
    # 14.4s at calibration 0.671 (LOW) because other tenants held cores
    # the probe never asked for.  Running the SAME scan-agg 4-wide from
    # four threads (one Spark session, concurrent jobs) measures how much
    # parallel capacity the box actually has: on an idle box the 4-wide
    # wall-clock is ~1-2x the single-stream time; on a contended box it
    # degrades far more.  Median of three rounds, one untimed warm.
    from concurrent.futures import ThreadPoolExecutor

    def _probe_mt():
        with ThreadPoolExecutor(max_workers=4) as ex:
            list(ex.map(lambda _i: _probe(), range(4)))

    _probe_mt()
    mt_times = []
    for _ in range(3):
        t0 = time.perf_counter()
        _probe_mt()
        mt_times.append(time.perf_counter() - t0)
    calibration_mt = round(sorted(mt_times)[1], 3)

    # Warm-up pass: run every headline query once untimed.  First execution
    # pays one-time costs that are not query work — JVM JIT + whole-stage
    # codegen compilation, parquet footer reads, and Python-worker process
    # spawn for pandas_udf stages (workers are reused afterwards).  The timed
    # pass below measures steady-state engine throughput.  Every query,
    # warm or timed, runs in its own invocation scope, so no query's
    # persisted intermediates survive into the next (or into its own
    # timed run as a cache hit).
    for name in (HEADLINE + CORPUS + HYGIENE + EXTENDED + CURATION
                 + ANALYTICS + TPCH_REST + MINING + DIAGNOSTICS + ROUND5
                 + ROUND5B):
        with invocation():
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Queries whose distributed work happens at CONSTRUCTION time (iterative
    # operators: connected-components rounds run eagerly while building the
    # frame).  These time construction+execution; everything else times
    # execution only — plan assembly/analysis is driver-side Python (0.2-0.9s
    # for the wide plans) and would swamp sub-second engine timings, breaking
    # round-over-round comparability of the frozen headline list.
    EAGER = {"semantic_dedup_keep", "kmeans_clusters_emb",
             "triangle_count_emb", "connected_components_star_docs",
             "pagerank_event_transitions",
             # driver-side bitset build / budget scalar are part of the work
             "bloom_decontaminate_docs", "token_budget_select_docs",
             "dedup_keep_best_docs", "incremental_near_dup_docs",
             # bloom bitset built driver-side at construction
             "bloom_join_orders",
             # power-iteration rounds run eagerly while building the frame
             "pca_power_emb",
             # IRLS rounds run eagerly while building the frame
             "logistic_quality_docs",
             # single-agg collect + driver unpivot at construction
             "profile_orders",
             # per-rung escalation decided at construction
             "k_anonymize_events",
             # N-collect + persisted degree table at construction
             "pagerank_orders",
             # IRLS rounds run eagerly while building the frame
             "calibration_logistic_docs",
             # skew probe (count pass + 1-row collect) at construction
             "auto_salted_revenue_events",
             # peel rounds (or driver fast path) run at construction
             "kcore_orders",
             # r11: the graph-iteration driver fast path moved the
             # edge-count gate + recursion of these two INTO construction
             # (they were lazy before), so execution-only timing would
             # no longer measure the work — EAGER keeps the whole
             # computation inside the timed region (additive; their r10
             # numbers timed execution only and are kept in
             # OPTIMIZATION_r11.md for comparison)
             "ppr_suppliers", "hits_customer_supplier",
             # two side counts at construction
             "embedding_drift_emb",
             # transition collect + driver recursion at construction
             "markov_attribution_events"}

    def timed(names: list[str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            with invocation():
                if name in EAGER:
                    t0 = time.perf_counter()
                    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                else:
                    df = qs[name](spark, sf_dir)
                    t0 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                out[name] = round(time.perf_counter() - t0, 3)
        return out

    timings = timed(HEADLINE)
    corpus_timings = timed(CORPUS)
    hygiene_timings = timed(HYGIENE)
    extended_timings = timed(EXTENDED)
    curation_timings = timed(CURATION)
    analytics_timings = timed(ANALYTICS)
    tpch_rest_timings = timed(TPCH_REST)
    mining_timings = timed(MINING)
    diagnostics_timings = timed(DIAGNOSTICS)
    round5_timings = timed(ROUND5)
    round5b_timings = timed(ROUND5B)

    total = round(sum(timings.values()), 3)
    group_queries = {
        "corpus": corpus_timings,
        "hygiene": hygiene_timings,
        "extended": extended_timings,
        "curation": curation_timings,
        "analytics": analytics_timings,
        "tpch_rest": tpch_rest_timings,
        "mining": mining_timings,
        "diagnostics": diagnostics_timings,
        "round5": round5_timings,
        "round5b": round5b_timings,
    }
    # Per-query group ledgers go to a side file: the driver keeps only the
    # LAST ~2000 chars of bench stdout, and the full ledger JSON used to
    # blow that budget (BENCH_r07 recorded "parsed": null).  The printed
    # line carries the headline queries + group TOTALS and stays well
    # under 2000 chars, so it parses end-to-end.
    groups_file = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_groups_last.json")
    try:
        with open(groups_file, "w") as fh:
            json.dump(group_queries, fh)
    except OSError:
        groups_file = None
    print(json.dumps({
        "group_totals": {k: round(sum(v.values()), 3)
                         for k, v in group_queries.items()},
        "groups_file": groups_file,
        "calibration": calibration,
        "calibration_mt": calibration_mt,
        "sf": sf,
        "queries": timings,
        "metric": "headline_queries_total",
        "unit": "sec",
        "value": total,
    }))


if __name__ == "__main__":
    main()
