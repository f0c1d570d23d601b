"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Timing excludes session startup; each query is executed REPEATS times
as a noop-sink write (``run_query(..., "noop")``), which computes every
output column the correctness driver checks — not a count-style
action, whose plan Catalyst prunes of the output projections. Every
rep starts from a cleared cache and the per-query number is the best
rep — a warmed steady-state figure. Round-2 analysis showed
single-shot timings are dominated by first-run plan compile / codegen
and by session crowding (the same four queries that looked 1.3-1.9x
slower in a 44-query session ran at r1 speed isolated once warm — see
BASELINE.md), so cold single-shots measured the JIT, not the plan.
Captures before the noop harness timed ``count()`` and are not
comparable with noop ones (BASELINE.md count-vs-noop table).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "flagship_classify",
    "infer_mapinpandas",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_rank_topn",
    "topk_orders",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_topk_bruteforce",
    "ann_lsh_buckets",
    "text_quality",
    "token_count",
    "asof_join_click_purchase",
    "sessionize_events",
    "json_extract_agg",
    "stream_tumbling_agg",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_volume_customers",
    "window_analytics_pack",
    "ann_ivf_topk",
    "skew_split_join_events",
    "multimodal_frame_sample",
    "stream_stateful_user_stats",
    "llm_corpus_clean",
    "decontaminate_vs_benchmark",
    "q21_sole_late_supplier",
    "binary_inference_e2e",
    "vocab_corpus_terms",
    "tfidf_top_terms",
    "incremental_dedup_vs_corpus",
    "embedding_neardup_lsh",
    "chunk_documents_sliding",
    "pack_sequences_fixed",
    "epoch_shuffle_shards",
    "oov_rate_topk_vocab",
    "temperature_mix_sources",
    "lateral_topn_per_order",
    "sketch_cardinality_pack",
    "stream_static_enrich",
    "funnel_signup_click_purchase",
    "cohort_retention_weekly",
    # temporal/BI family (r3)
    "rfm_segmentation",
    "market_basket_pairs",
    "sla_ship_delay_percentiles",
    "anomaly_daily_zscore",
    # lakehouse maintenance ops (r3)
    "compact_small_files",
    "zorder_cluster_stats",
    # newly executable / newly capped (r3)
    "stream_tws_user_stats",
    "dedup_ngram_jaccard",
    # round-3 curation / graph / governance additions
    "dedup_substring_spans",
    "charlm_perplexity_proxy",
    "quality_linear_classifier",
    "semdedup_embeddings",
    "embedding_pq_audit",
    "graph_triangle_count",
    "attribution_last_touch",
    "dq_expectations_report",
    "token_entropy",
    "wordlm_interpolated_nll",
    "simhash_hamming_pairs",
    "countmin_heavy_hitters",
    "watermark_late_audit",
    "source_overlap_matrix",
    "minhash_estimate_accuracy",
    "crossmodal_retrieval_eval",
    # round-3 observability / sketch / UDTF surfaces
    "observed_metrics_orders",
    "sketch_union_rollup",
    "udtf_dynamic_schema",
    "statestore_reader_audit",
    "stream_dedup_within_watermark",
    "theta_set_algebra_audit",
    "kll_quantile_rollup",
    "incremental_join_delta",
    "search_inverted_index",
    "python_datasource_pushdown",
    "declarative_pipeline_mv",
    "arrow_scalar_udf",
    "udtf_table_argument",
    "drift_psi_events",
    "file_metadata_audit",
    "url_funcs",
    "regr_agg_funcs",
    "agg_argmax_moments",
    "bitmap_builtin_distinct",
    "arrow_udtf_batch_filter",
    "pandas_api_groupby",
    "stream_observed_metrics",
    "batch_session_window",
    "dynamic_partition_overwrite",
    # round-4 additions
    "ann_rerank_twostage",
    "source_domain_cap_scaled",
    "ngram_novelty_decay",
    "spatial_grid_radius_join",
    "dynamic_partition_pruning_join",
    "stream_parquet_sink_checkpoint",
    "prorate_revenue_monthly",
    "ewma_lookback",
    # round-5 additions
    "bpe_train_kmerges",
    "bpe_encode_corpus",
    "ann_pq_adc_topk",
    "stream_full_outer_join",
    "dedup_jaccard_prefix_filter",
    "null_aware_anti_join",
    "asof_nearest_error_purchase",
    "heaps_vocab_growth",
    "zipf_rank_frequency",
    "downsample_lttb_daily",
    "jl_projection_distortion",
    # round-6 additions
    "ann_ivfpq_topk",
    "dedup_index_build",
    "dedup_probe_incremental",
    "approx_topk_sketch_tokens",
    "token_budget_fill",
    "attribution_position_based",
    "woe_iv_length_feature",
    "embedding_centroid_drift",
    "stream_probe_dedup_index",
    "knn_label_agreement",
    "embedding_silhouette_audit",
    "survival_km_weekly",
    "entity_resolution_parts",
    "classifier_auc_ranksum",
    "padding_waste_bucketing",
    "hybrid_rrf_fusion",
    "selfdedup_repeated_chunks",
    "kneser_ney_bigram_nll",
    "doremi_domain_reweight",
    "pareto_abc_cumshare",
    "quantile_normalize_sources",
    "dedup_containment_pairs",
    "winnowing_fingerprints",
    "ltv_cohort_curve",
    "sliding_distinct_users_bitmap",
    "churn_feature_table",
    # round-7 additions (sql_scripting_threshold stays off the bench:
    # its cost is per-statement SQL-scripting compile overhead on a
    # 31-row local relation — a surface fixed cost, not a plan)
    "recursive_cte_part_rollup",
    "sql_udf_margin_rollup",
    "sql_tvf_instalments",
    "collated_event_type_stats",
    "mann_kendall_daily_value",
    "theil_sen_daily_trend",
    "fdr_bh_source_length_tests",
    "boilerplate_segment_removal",
    "mmr_diversified_topk",
    "runs_test_daily_updown",
    "ccnet_quality_buckets",
    "neardup_tfidf_cosine",
    "kcore_peel_rounds",
    "conformal_interval_coverage",
    "kcenter_greedy_coreset",
    "bootstrap_ci_keep_rate",
    "gini_source_concentration",
    "pmi_top_bigrams",
    "hits_hubs_authorities",
    "label_propagation_semisup",
    "sliding_p50_value_7d",
    "permutation_test_mean_diff",
    "mcnemar_two_filters",
    "cohens_kappa_filters",
    "cochran_armitage_trend",
    "jackknife_keep_rate_stderr",
    "stream_sliding_p50_value",
    "acf_daily_lags",
    "trimmed_mean_priority",
    # round-8 additions (bcubed_cluster_quality stays off the bench:
    # its cost is the shared MinHash-pairs + components stack already
    # represented by dedup_minhash_lsh, like its non-benched siblings
    # dedup_cluster_components / corpus_dedup_clean)
    "zone_map_skipping_audit",
    "facility_location_greedy",
    "jsd_source_divergence",
    "lsh_scurve_audit",
    "stratified_neyman_allocation",
    "alignment_uniformity_audit",
    "cuped_variance_reduction",
    "shapley_coverage_attribution",
    "propensity_caliper_match_att",
    "stream_cms_user_counts",
    "ndcg_truncation_eval",
    "isotonic_calibration_pava",
    "dp_noisy_counts_audit",
    "mi_lang_source_dependence",
    # round-9 additions
    "welch_ttest_value_by_variant",
    "sprt_sequential_conversion",
    "pass_at_k_estimator",
    "adamic_adar_link_prediction",
    "unimax_budget_allocation",
    "infonce_temperature_audit",
    "ql_dirichlet_retrieval",
    "rho_loss_selection",
    "phash_neardup_recall",
    "holt_winters_dow_forecast",
    "wasserstein1d_length_drift",
    "k_anonymity_audit",
    "mmd_embedding_drift",
    "kalman_filter_daily",
    "graph_modularity_partition",
    "ucb1_arm_allocation_replay",
    "pps_systematic_sample",
    # round-9 batches 5-14
    "seq_pattern_support",
    "dbscan_core_points",
    "rake_keyword_extraction",
    "dunning_g2_collocations",
    "markov_entropy_rate",
    "fano_burstiness_users",
    "anova_oneway_f",
    "kruskal_wallis_length_by_lang",
    "spearman_corr_daily",
    "kendall_tau_daily",
    "brown_forsythe_length_by_source",
    "yule_k_vocab_richness",
    "msttr_lexical_diversity",
    "burrows_delta_sources",
    "textrank_keywords",
    "graph_degree_assortativity",
    "page_hinkley_drift_daily",
    "theil_index_sources",
    "hurst_exponent_rs",
    "simpson_paradox_audit",
    "gumbel_block_maxima_evt",
    "rm3_expansion_terms",
    "good_turing_unseen_mass",
    "durbin_watson_autocorr",
    "jarque_bera_normality",
    "breusch_pagan_heteroskedasticity",
    "cooks_distance_daily",
    "cohens_d_effect_size",
    "power_analysis_mde",
    "cramers_v_lang_source",
    "anderson_darling_two_sample",
    "spatial_knn_blocked",
    "best_of_n_expected_score",
    "pareto_frontier_quality",
    "ipf_raking_weights",
    "quantile_treatment_effect",
    "mantel_haenszel_or",
    "mcc_en_detector",
    "pettitt_changepoint",
    "granger_causality_daily",
    "sinkhorn_ot_lengths",
    # round-10 additions
    "friedman_event_types",
    "grubbs_outlier_daily",
    "mood_median_test_lang",
    "wilcoxon_signed_rank_halfday",
    "sign_test_halfday",
    "cronbach_alpha_event_types",
    "jonckheere_terpstra_priority_qty",
    "hodges_lehmann_daily",
    "diff_in_diff_value",
    "iv_wald_estimator",
    "mase_seasonal_naive_eval",
    "bartlett_variance_lang",
    "stupid_backoff_trigram",
    "moore_lewis_selection",
    "flesch_reading_ease",
    "mattr_lexical_diversity",
    "fleiss_kappa_filters",
    "pr_auc_average_precision",
    "brier_score_decomposition",
    "local_clustering_coefficient",
    "jaccard_link_prediction",
    "t_closeness_audit",
    "multimodal_exact_dup_binary",
    "fk_orphan_audit",
    "pacf_durbin_levinson",
    "banzhaf_coverage_attribution",
    "cliff_delta_lengths",
    "covariate_balance_smd",
    "gini_stump_split",
    "umass_topic_coherence",
    "nelson_aalen_hazard",
    "logrank_test_survival",
    "youden_j_threshold",
    "holm_bonferroni_tests",
    "preferential_attachment_links",
    "rich_club_coefficient",
    "xi_correlation_chatterjee",
    "goodman_kruskal_gamma",
    "srm_sample_ratio_mismatch",
    "qq_plot_deciles",
    "mean_excess_pot_ladder",
    "rmst_survival",
    "hill_tail_index_tokens",
    "calinski_harabasz_embeddings",
    "davies_bouldin_embeddings",
    "breslow_day_homogeneity",
    "resource_allocation_links",
    "simpson_diversity_sources",
    "dixon_q_outlier_daily",
    "somers_d_priority_qty",
    "gwet_ac1_filters",
    # round-11 additions
    "rouge2_pair_overlap",
    "log_bleu2_pair_overlap",
    "chrf3_pair_overlap",
    "levenshtein_blocked_linkage",
    "cramer_von_mises_two_sample",
    "quade_test_event_types",
    "generalized_esd_daily",
    "ams_f2_sketch_tokens",
    "ktruss_support_ladder",
    "katz_centrality_2hop",
    "map_retrieval_eval",
    "ann_ivf_recall_eval",
    "hashed_linear_quality_score",
    "herfindahl_customer_revenue",
    "cox_stuart_trend_daily",
    "bhattacharyya_hellinger_lengths",
    "total_variation_lang_lengths",
    "point_biserial_length_en",
    "mutual_information_lang_source",
    "odds_risk_ratio_en_long",
    "poisson_dispersion_daily",
    "renyi_entropy_tokens",
    "coleman_liau_readability",
    "gunning_fog_readability",
    "tschuprow_contingency_lang_source",
    "theil_u_lang_source",
    "kendall_w_event_types",
    "capability_cpk_values",
    "spearman_footrule_daily",
    "mantel_haenszel_or_sources",
    "skewness_kurtosis_lengths",
    "gini_mean_difference_lengths",
    "tukey_fence_outliers_lengths",
    "ruzicka_token_overlap_langs",
    # round-12 corpus-statistics pack
    "tokenizer_fertility_by_lang",
    "contamination_longest_run",
    "wilson_ci_keep_rate",
    "dup_cluster_size_histogram",
    "dedup_yield_by_decile",
    "token_burstiness_topk",
]

REPEATS = 2
# a stream_* rep this slow is not repeated: it bounds run time, and a
# replay's cost is state-store init + micro-batches, steady from rep 1
STREAM_CUT_S = 12.0


def warm_up(spark, reg, sf_dir: str) -> None:
    """Untimed warm-up shared by bench.py and tools/isolate.py."""
    from pyspark.sql import functions as F

    from swat_mapreduce_spark.queries import run_query

    # Warm up the execution machinery on unrelated trivial jobs so
    # per-query timings reflect steady state, not one-time init:
    # codegen/JIT, the broadcast-join path, Py4J createDataFrame, and
    # the Arrow + Python-worker pool (pandas UDF path).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    tiny = spark.createDataFrame([(i, f"w{i}") for i in range(8)], "k int, v string")
    spark.range(1000).join(
        F.broadcast(tiny), F.col("id") % 8 == F.col("k")
    ).count()

    def _pd_identity(it):
        yield from it

    spark.range(10_000).mapInPandas(_pd_identity, "id long").count()

    # Session pre-warm on a REAL query (untimed): the generic warmups
    # above don't touch the parquet scan path / committer / larger
    # codegen shapes, so the first timed query historically absorbed
    # 0.5-2.5 s of residual session warmup (flagship_classify in
    # r1/r2/r5 — BASELINE.md pins, VERDICT r5 #1). One throwaway run
    # of the first headline query retires that cost before timing.
    run_query(spark, reg[HEADLINE[0]], sf_dir, "noop")


def time_query(
    spark, q, sf_dir: str, reps: int = REPEATS, stream_cut: float = STREAM_CUT_S
) -> list[float]:
    """Wall seconds of each noop run of ``q``, up to ``reps`` runs; a
    stream_* query stops after a run slower than ``stream_cut``."""
    from swat_mapreduce_spark.queries import run_query

    times: list[float] = []
    for _ in range(reps):
        t0 = time.time()
        run_query(spark, q, sf_dir, "noop")
        times.append(round(time.time() - t0, 3))
        if q.name.startswith("stream_") and times[-1] > stream_cut:
            break
    return times


def main() -> None:
    from swat_mapreduce_spark.queries import load_all
    from swat_mapreduce_spark.sources.readers import DEFAULT_SF_DIR
    from swat_mapreduce_spark.session import get_spark

    sf_dir = DEFAULT_SF_DIR
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()

    warm_up(spark, reg, sf_dir)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        reps = time_query(spark, reg[name], sf_dir)
        timings[name] = min(reps)
        print(
            f"# {name}: {timings[name]:.3f}s (best of {len(reps)})",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    # DuckDB wall-time anchor (VERDICT r6 #3): the reference publishes
    # no numbers, so "within 2x of baseline" needs a falsifiable local
    # anchor — every headline query already has a DuckDB oracle over
    # the SAME parquet, so time it on the same machine. Streaming rows
    # are skipped: their Spark figure is a micro-batch REPLAY (state
    # store init + per-batch fixed cost — FIXTURES.md pins), not a
    # batch scan, so a batch-SQL ratio would compare different work.
    duck_timings: dict[str, float] = {}
    try:
        from tools.selfcheck import duck_con, duck_result

        con = duck_con(sf_dir)
        for name in HEADLINE:
            q = reg[name]
            if q.oracle is None or name.startswith("stream_"):
                continue
            best = None
            try:
                for _ in range(REPEATS):
                    t0 = time.time()
                    duck_result(con, q.oracle)
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
            except Exception as e:  # noqa: BLE001
                print(f"# duckdb {name}: ERROR {str(e)[:120]}", file=sys.stderr)
                continue
            duck_timings[name] = round(best, 3)
    except Exception as e:  # noqa: BLE001
        print(f"# duckdb anchor skipped: {str(e)[:120]}", file=sys.stderr)
    duck_total = round(sum(duck_timings.values()), 3)
    spark_on_common = round(
        sum(timings[n] for n in duck_timings), 3
    )
    # Full per-query detail goes to a pointer file; the stdout line
    # stays compact (total + top-10 slowest) so the driver's tail
    # buffer can always capture and parse it (r3's 92-query line
    # outgrew the buffer → BENCH_r03 recorded parsed: null).
    here = os.path.dirname(os.path.abspath(__file__))

    # Standing cross-round gate (VERDICT r7 #1): adjudicate THIS
    # capture against the previous round's committed FINAL capture
    # (BENCH_BASE.json — refreshed to the final BENCH_full.json at
    # every round end, release checklist in CLAUDE.md). Hop-by-hop
    # diffs let sub-threshold drift compound (r6->r7 was 1.17x while
    # every intermediate hop stayed under 1.3x); diffing final-vs-
    # final makes the compound visible every run.
    gate: dict = {}
    sys.path.insert(0, os.path.join(here, "tools"))
    from benchdiff import source_sha

    sha = source_sha(here)
    base_path = os.path.join(here, "BENCH_BASE.json")
    if os.path.exists(base_path):
        try:
            from benchdiff import classify, _load_doc, _load_queries

            with open(os.path.join(here, "BENCH_PINS.json")) as f:
                pins_doc = json.load(f)
            old = _load_queries(base_path)
            # Drift normalization only against a same-source base
            # (ADVICE r10 #1): a recapture of identical engine source
            # that runs capture-wide hot is box drift; a cross-source
            # capture's movers must be explained by the commits.
            base_sha = _load_doc(base_path).get("source_sha")
            movers = classify(
                old, timings, pins_doc, allow_drift=(base_sha == sha)
            )
            common = set(old) & set(timings)
            so = sum(old[q] for q in common)
            sn = sum(timings[q] for q in common)
            unexplained = [m for m in movers if m["class"] == "UNEXPLAINED"]
            for m in movers:
                flag = "!!" if m["class"] == "UNEXPLAINED" else "ok"
                print(
                    f"# gate {flag} {m['query']}: {m['old_sec']} -> "
                    f"{m['new_sec']} ({m['ratio']}x) [{m['class']}]",
                    file=sys.stderr,
                )
            gate = {
                "base": "BENCH_BASE.json",
                "common_ratio": round(sn / so, 3) if so else None,
                "movers": len(movers),
                "unexplained": len(unexplained),
                "unexplained_queries": [m["query"] for m in unexplained],
            }
            print(
                f"# gate vs previous-round final: {len(common)} common, "
                f"ratio {gate['common_ratio']}x, {len(movers)} movers, "
                f"{len(unexplained)} UNEXPLAINED",
                file=sys.stderr,
            )
        except Exception as e:  # noqa: BLE001
            gate = {"base": "BENCH_BASE.json", "error": str(e)[:200]}
            print(f"# gate skipped: {str(e)[:200]}", file=sys.stderr)

    detail_path = os.path.join(here, "BENCH_full.json")
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "duckdb": duck_timings,
                "duckdb_total": duck_total,
                "spark_total_on_duckdb_common": spark_on_common,
                "gate": gate,
                "source_sha": sha,
                "sf": sf_val,
            },
            f,
        )
    top10 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    line = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": top10,
        "n_queries": len(timings),
        "duckdb_total": duck_total,
        "spark_total_on_duckdb_common": spark_on_common,
        "detail": "BENCH_full.json",
        "source_sha": sha,
        "sf": sf_val,
    }
    if gate:
        line["gate"] = {
            k: gate[k]
            for k in ("common_ratio", "movers", "unexplained")
            if k in gate
        }
    print(json.dumps(line))


if __name__ == "__main__":
    main()
