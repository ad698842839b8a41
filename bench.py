#!/usr/bin/env python
"""Benchmark runner (driver contract).

Runs the headline suite queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
 "sf": ...}.

The printed line keeps `queries` to a fixed CORE subset so the line stays
well under the driver's stdout-tail capture (round 3's 164-query line was
truncated to `parsed: null`); the full per-query map is written to
BENCH_DETAIL.json next to this script, and the line carries `n_queries` +
`detail` so nothing is lost.

Timing = wall clock of plan construction + a count()-style action that
materializes every result row (df.write to noop sink would also work;
count() keeps it simple and still executes the full plan since aggregates/
joins can't be pruned by count).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkstreaming_spark.session import get_spark  # noqa: E402
from sparkstreaming_spark.suite import all_queries  # noqa: E402

# --- timing protocol (asserted by tests/test_bench_coverage.py) ------------
# Sub-second rows swing 2-5x between sessions on this shared container
# (BASELINE.md "bench noise model"), which made per-row 2x adjudication
# noisy: a 0.6s row is ~60% fixed scheduling/JIT jitter. Protocol: every
# row gets RUNS_BASE warm runs; if the median lands under SUBSEC_THRESHOLD
# seconds the row gets topped up to RUNS_SUBSEC runs and re-medianed, so
# the stamped number for exactly the noise-dominated rows is a median of 5.
RUNS_BASE = 3
RUNS_SUBSEC = 5
SUBSEC_THRESHOLD = 1.0


def measure_query(run_once, runs_out: list | None = None) -> float:
    """Median wall time per the adaptive protocol: median of RUNS_BASE
    runs, topped up to RUNS_SUBSEC when the first median is sub-second.

    `runs_out`, if given, receives every raw run time — BENCH_DETAIL
    records them so drift adjudication can see WITHIN-row spread (a
    shared-host load spike shows as a 3x run spread, a real code
    regression as a uniformly shifted triple)."""
    runs = []
    for _ in range(RUNS_BASE):
        runs.append(run_once())
    med = sorted(runs)[len(runs) // 2]
    if med < SUBSEC_THRESHOLD:
        while len(runs) < RUNS_SUBSEC:
            runs.append(run_once())
        med = sorted(runs)[len(runs) // 2]
    if runs_out is not None:
        runs_out.extend(round(r, 4) for r in runs)
    return med


# Headline set: one per operator family; extend as the suite grows.
HEADLINE = [
    "flagship_pricing_summary",
    "join_star_revenue",
    "join_semi_anti",
    "top_customers",
    "window_rank",
    "window_running",
    "rollup_counts",
    "distinct_counts",
    "kpi_feature_means",
    "setops",
    "sql_shipping_priority",
    "join_nation_volume",
    "sub_avg_qty_threshold",
    "tpch_q9_product_profit",
    "tpch_q13_count_distribution",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_supplier",
    "evt_asof_orders",
    "evt_range_join",
    "evt_tumbling_window",
    "evt_session_window",
    "evt_json_props",
    "doc_token_stats",
    "doc_exact_dedup",
    "doc_minhash_pairs",
    "doc_dup_clusters",
    "doc_simhash_pairs",
    "doc_quality",
    "doc_top_tokens",
    "doc_bm25_topk",
    "doc_split_counts",
    "doc_repetition",
    "doc_curation_pipeline",
    "doc_chunks",
    "merge_upsert",
    "doc_pii_scrub",
    "emb_kmeans_profile",
    "evt_hypertable_rollup",
    "evt_funnel",
    "evt_retention",
    "emb_knn_bruteforce",
    "emb_knn_lsh",
    "emb_knn_ivf",
    "emb_near_dup_cosine",
    "emb_dim_stats",
    "doc_decontam",
    "emb_label_cohesion",
    "evt_variant_props",
    "doc_sentences_udtf",
    "src_custom_datasource",
    "stat_profile",
    "doc_dup_passages",
    "cdc_apply_latest",
    "scd2_history",
    "evt_value_histogram",
    "fuzzy_name_pairs",
    "emb_pca_profile",
    "evt_ewma",
    "evt_interval_overlap",
    "table_profile",
    "emb_knn_sq8",
    "src_file_provenance",
    "doc_ngram_containment",
    "evt_asof_tolerance",
    "doc_weighted_sample",
    "evt_approx_percentiles",
    "doc_pack_sequences",
    "doc_source_mixture",
    "doc_upsample_epochs",
    "doc_shuffle_shards",
    "doc_length_curriculum",
    "doc_nfc_normalize",
    "emb_hard_negatives",
    "doc_reservoir_sample",
    "evt_skew_profile",
    "ts_ohlc",
    "layout_zorder_key",
    "doc_bigram_logprob",
    "evt_sessionize",
    "table_fingerprint_orders",
    "snapshot_diff_orders",
    "evt_equidepth_hist",
    "evt_approx_distinct",
    "evt_bitmap_distinct",
    "evt_hll_union",
    "evt_sampled_mean",
    "evt_top_paths",
    "ts_interpolate",
    "graph_triangles",
    "evt_winsorized_stats",
    "evt_mad_outliers",
    "join_null_safe",
    "doc_incremental_dedup",
    "evt_psi_drift",
    "emb_semantic_dedup",
    "doc_markup_strip",
    "sql_recursive_chain",
    "evt_ks_test",
    "evt_autocorr",
    "doc_token_entropy",
    "doc_bpe_encode",
    "evt_trend_slopes",
    "evt_chi_square",
    "stream_incremental_dedup",
    "udf_grouped_agg",
    "src_arrow_batches",
    "emb_standardize",
    "evt_ivm_refresh",
    "layout_hilbert_key",
    "evt_range_frame",
    "window_ranking_surface",
    "sql_lateral_topn",
    "evt_map_surface",
    "doc_ngram_jaccard",
    "setops_all",
    "sql_unpivot",
    "window_navigation_surface",
    "evt_asof_forward",
    "evt_merge_intervals",
    "evt_stickiness",
    "evt_decayed_engagement",
    "evt_rfm_segments",
    "doc_mime_sniff",
    "evt_markov_transitions",
    "basket_brand_lift",
    "evt_ab_test",
    "doc_token_pmi",
    "geo_radius_pairs",
    "evt_sliding_distinct",
    "doc_readability",
    "doc_tfidf_keywords",
    "stream_chained_windows",
    "evt_cusum_changepoint",
    "evt_bootstrap_ci",
    "doc_cross_source_dups",
    "doc_rrf_fusion",
    "rev_gini_by_nation",
    "evt_benford",
    "doc_audio_bands",
    "evt_anova_f",
    "udf_scalar_pandas",
    "src_file_skipping_stats",
    "evt_lift_curve",
    "evt_auc",
    "graph_kcore",
    "src_binary_files",
    "evt_backtest_mae",
    "doc_k_anonymity",
    "evt_skyline",
    "scd2_pit_lookup",
    "evt_attribution",
    "agg_modern_surface",
    "hof_surface",
    "evt_path_entropy",
    "evt_outage_gaps",
    "stream_running_stats",
    "gen_synthetic_profile",
    "doc_feature_hashing",
    "emb_knn_pq",
    "evt_debounce",
    "evt_activity_matrix",
    "doc_zipf_fit",
    "evt_peak_detection",
    "doc_dedup_eval",
    "ord_ship_latency",
    "evt_inactive_users",
    "emb_centroid_drift",
    "evt_mom_change",
    "doc_dup_rate_by_source",
    "evt_user_growth",
    "emb_knn_rerank",
    "evt_seasonal_decompose",
    "evt_session_corpus",
    "doc_ngram_novelty",
    "stream_broker_topic",
    "ent_resolve_parts",
    "ord_cohort_ltv",
    "evt_survival_km",
    "evt_forecast_linear",
    "ivm_join_delta",
    "doc_png_features",
    "evt_theil_sen",
    "evt_seasonal_anomalies",
    "src_partition_pruned_join",
    "src_schema_evolution",
    "maint_compact_small_files",
    "evt_user_typicality",
    "doc_audio_tone_detect",
    "layout_bucketed_join",
    "doc_dp_histogram",
    "stream_broker_enriched",
    "emb_pca_contract",
    "emb_kmeans_contract",
    "doc_video_frame_probe",
    "ml_pit_training_set",
    "stream_quota_gate",
    "streamck_quota_gate",
    "streamck_incremental_dedup",
    "streamck_chained_windows",
    "streamck_curation",
    "streamck_broker_enriched",
    "evt_cross_correlation",
    "evt_cuped",
    "doc_mjpeg_frame_probe",
    "doc_flac_probe",
    "doc_g711_probe",
    "doc_gif_probe",
    "doc_media_meta_probe",
    "doc_dsir_selection",
    "doc_gopher_rules",
    "doc_c4_line_filter",
    "stream_gopher_gate",
    "doc_corpus_build",
    "doc_lang_alpha_sample",
    "doc_fineweb_rules",
    "doc_multimodal_ingest",
    "doc_substr_spans",
    "doc_substr_dedup",
    "doc_substr_dedup_apply",
    "doc_quality_classifier",
    "stream_quality_gate",
    "doc_kneser_ney_logprob",
    "doc_bloom_decontam_gate",
    "doc_gif_anim_probe",
    "emb_matryoshka_recall",
    "doc_ccnet_buckets",
    "doc_line_dedup",
    "stream_lm_gate",
    "doc_doremi_weights",
    "doc_unigram_train",
    "doc_unigram_encode",
    "emb_cluster_sample",
    "doc_tokenizer_fertility",
    # round-7 additions
    "doc_kn_heldout",
    "doc_domain_caps",
    "doc_domain_mix",
    "doc_url_dedup",
    "doc_wordpiece_encode",
    "doc_token_budget_plan",
    "doc_chat_template",
    "doc_dpo_pairs",
    "stream_neardup_gate",
    "doc_span_corruption",
    "doc_length_batching",
    "doc_ccnet_heldout",
    # round-9: close the bench silent cap — every registry query is
    # benched so a perf regression anywhere is visible in BENCH_DETAIL
    "cube_counts",
    "doc_audio_neardup",
    "doc_blob_features",
    "doc_blob_frames",
    "doc_blob_meta",
    "doc_bpe_merges",
    "doc_cms_counts",
    "doc_constraint_report",
    "doc_dedup_best_survivor",
    "doc_dedup_survivors",
    "doc_heavy_hitters_mg",
    "doc_image_neardup",
    "doc_jsonl_roundtrip",
    "doc_langid",
    "doc_quarantine_split",
    "doc_stratified_sample",
    "doc_tfidf_cosine",
    "doc_unigram_logprob",
    "doc_vocab_encode",
    "doc_winnow_fp",
    "emb_norm_stats",
    "evt_anomalies",
    "evt_argmax",
    "evt_from_json",
    "evt_moving_avg",
    "evt_percentiles",
    "evt_regression",
    "evt_running_by_user",
    "evt_sliding_window",
    "evt_window_analytics",
    "filter_between",
    "graph_pagerank",
    "grouping_sets_counts",
    "join_salted_skew",
    "kpi_count_by_status",
    "kpi_count_two_keys",
    "kpi_global_count",
    "kpi_loyalty_split",
    "kpi_value_distribution",
    "orc_roundtrip",
    "outer_join_fill",
    "pivot_qty",
    "project_derive",
    "scalar_functions",
    "scalar_try_functions",
    "sql_parameterized",
    "sql_udf",
    "stream_curation",
    "stream_dedup",
    "stream_dedup_watermarked",
    "stream_events_windowed",
    "stream_file_sink",
    "stream_kpi_counts",
    "stream_loyalty_split",
    "stream_matview",
    "stream_producer_consumer",
    "stream_session_window",
    "stream_static_join",
    "stream_stream_join",
    "stream_stream_left_join",
    "stream_topn_stateful",
    "stream_upsert_sink",
    "stream_windowed",
    "sub_exists_orders",
    "sub_inactive_customers",
    "sub_promo_revenue",
    "sub_top_supplier",
    "tpch_q2_min_cost_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_priority_counts",
    "tpch_q16_supplier_count",
    "tpch_q19_disjunctive_revenue",
    "tpch_q20_excess_volume",
    "ts_gap_fill",
    "unpivot_measures",
    "xml_roundtrip",
    "stream_image_gate",
    "stream_audio_gate",
    "doc_image_dup_clusters",
    "doc_image_dedup_eval",
    "doc_image_neardup_hq",
    "doc_audio_dup_clusters",
    "doc_audio_dedup_eval",
]


# Fixed subset whose timings ride inline in the printed JSON line (one per
# operator family, stable across rounds so BENCH_r{N} files stay comparable).
CORE = [
    "flagship_pricing_summary",
    "join_star_revenue",
    "tpch_q9_product_profit",
    "tpch_q21_waiting_supplier",
    "top_customers",
    "window_rank",
    "rollup_counts",
    "evt_asof_orders",
    "evt_range_join",
    "evt_tumbling_window",
    "evt_session_window",
    "evt_hypertable_rollup",
    "evt_funnel",
    "evt_sessionize",
    "doc_token_stats",
    "doc_exact_dedup",
    "doc_minhash_pairs",
    "doc_dup_clusters",
    "doc_ngram_jaccard",
    "doc_quality",
    "doc_bm25_topk",
    "doc_curation_pipeline",
    "doc_decontam",
    "doc_bpe_encode",
    "doc_pii_scrub",
    "emb_knn_bruteforce",
    "emb_knn_ivf",
    "emb_knn_pq",
    "emb_near_dup_cosine",
    "emb_kmeans_profile",
    "emb_semantic_dedup",
    "cdc_apply_latest",
    "scd2_history",
    "graph_kcore",
    "evt_lift_curve",
    "evt_auc",
    "evt_skyline",
    "stream_incremental_dedup",
    "stream_chained_windows",
    "doc_dedup_eval",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Host-load honesty stamp: this container shares its host; external
    # load (invisible in local ps) has been measured inflating identical
    # HEADs 316s -> 401s. Recording 1-min load at start/end lets drift
    # adjudication distinguish "code got slower" from "host was busy".
    load_start = round(os.getloadavg()[0], 1)
    spark = get_spark("bench")
    registry = all_queries()
    names = [n for n in HEADLINE if n in registry]
    unbenched = sorted(set(registry) - set(HEADLINE))
    if unbenched:
        # tests/test_bench_coverage.py fails on this too — no silent caps
        print(
            f"WARNING: {len(unbenched)} registry queries not benched: "
            f"{unbenched}",
            file=sys.stderr,
        )
    # warm-up: JVM + parquet footer caches, one light query
    registry[names[0]].fn(spark, sf_dir).count()

    timings: dict[str, float] = {}
    raw_runs: dict[str, list] = {}
    for name in names:

        def run_once(name: str = name) -> float:
            t0 = time.perf_counter()
            registry[name].fn(spark, sf_dir).count()
            elapsed = time.perf_counter() - t0
            # drop result caches between RUNS too: Spark's CacheManager
            # matches persisted frames by canonicalized logical plan, so
            # without this, runs 2+ of a query that persist()s an
            # intermediate silently reuse run 1's cached frame and the
            # "median" measures cached-result cost (doc_audio_neardup
            # read 0.74s cached vs 2.15s honest). JVM/JIT/page-cache
            # warmth is preserved — only result caches drop.
            spark.catalog.clearCache()
            return elapsed

        raw_runs[name] = []
        timings[name] = round(measure_query(run_once, raw_runs[name]), 4)

    total = round(sum(timings.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "suite_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "host_load_1min": [load_start, round(os.getloadavg()[0], 1)],
                "host_cpus": os.cpu_count(),
                "runs": raw_runs,
            },
            fh,
            indent=1,
        )
        fh.write("\n")
    core = {n: timings[n] for n in CORE if n in timings}
    print(
        json.dumps(
            {
                "metric": "suite_total_sec",
                "value": total,
                "unit": "sec",
                "queries": core,
                "n_queries": len(timings),
                "detail": "BENCH_DETAIL.json",
                "sf": sf_val,
                "host_load_1min": [load_start, round(os.getloadavg()[0], 1)],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
