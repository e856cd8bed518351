"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Timing = full query execution including the action (count via
``df.write.format("noop")`` would skip result materialization; we use
``collect()`` on small results / ``count()`` on large ones, mirroring
what a consumer does with each query).

Usage:
    python bench.py              # full run: JSON line + BENCH_DETAIL.json
    python bench.py NAME...      # subset: med/min/max table for NAMEs,
                                 # with the classes compiled and the
                                 # py4j round trips made in 3 reps
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from threat_detection_nosql_spark import cds  # noqa: E402
from threat_detection_nosql_spark.queries import advanced  # noqa: E402
from threat_detection_nosql_spark.queries import all_queries  # noqa: E402
from threat_detection_nosql_spark.queries import ml_queries  # noqa: E402
from threat_detection_nosql_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the flagship threat surface + the heaviest relational
# ops. "value" is their total; it stays comparable across rounds because
# every later surface is timed in its own group below.
HEADLINE = [
    "after_hours_top10", "high_activity_top10", "unusual_resources_top10",
    "degree_centrality_top10", "user_features", "pricing_summary",
    "top_revenue_orders", "nation_revenue", "returnflag_rollup",
    "two_hop_resource_paths", "supplier_running_revenue",
    "top_orders_per_customer",
]

# One entry per bench group, in run order: JSON label -> query names.
GROUPS: dict[str, list[str]] = {
    "pipeline_total": [
        "cosine_topk", "srp_ann_topk", "shipping_priority_top10",
        "exact_dedup_groups", "token_counts", "minhash_sig_near_dups",
        "event_sessions", "benchmark_decontamination"],
    "extended_total": [
        "funnel_conversion", "copurchase_triangles",
        "local_supplier_volume", "nation_market_share",
        "ivf_fixed_ann_topk", "cohort_retention", "unigram_logprob_scores",
        "customer_order_distribution", "returned_items_top20",
        "kmeans_fixed_anomalies", "corpus_curation_pipeline"],
    "round4_total": [
        "bpe_merges", "countmin_token_estimates", "feature_drift_psi",
        "bpe_subword_freqs", "time_to_next_purchase"],
    "round5_total": [
        "stream_drift_psi", "hll_portable_distinct_users",
        "embedding_ann_near_dups", "near_dup_groups",
        "min_cost_regional_supplier", "excess_stock_suppliers",
        "bm25_top_terms", "user_js_divergence", "link_prediction_top20",
        "copurchase_communities", "kcore_parts", "stream_session_windows",
        "dup_span_stats"],
    "round5b_total": [
        "user_daily_gap_filled", "user_daily_ewma",
        "activity_transition_matrix", "sequence_surprise_top10",
        "similar_user_pairs_top10", "rare_resource_access_top10",
        "seasonal_zscore_anomalies", "source_quantile_normalized",
        "nb_lang_predictions", "logreg_gd_report",
        "product_type_profit_full", "hashed_feature_counts",
        "activity_value_quartiles", "longest_after_hours_streak",
        "activity_hour_mutual_info", "user_activity_trend",
        "risk_propagation_top20", "near_dup_keep_best",
        "stream_topk_users", "stream_markov_transitions"],
    "round5c_total": [
        "doc_novelty_scores", "arrival_burstiness_top10",
        "activity_trigram_top10", "conversion_latency_quartiles",
        "winsorized_order_values", "dau_wau_stickiness", "revenue_pareto",
        "repurchase_interval_histogram", "source_lang_chi2",
        "open_order_aging", "worst_error_windows_top10",
        "part_supplier_hhi_top20", "new_vs_returning_users",
        "vocab_growth_curve", "session_activity_lift",
        "weighted_median_acctbal", "user_behavior_quadrants",
        "customer_rfm_segments", "zipf_fit", "kmeans_silhouette",
        "embedding_norm_audit", "stream_hll_user_registers",
        "user_triage_report"],
    "round7_total": [
        "ann_recall_report", "inverted_postings", "phrase_search_hits",
        "embedding_sq8_audit", "key_skew_audit", "split_leakage_repair",
        "stream_token_df", "hll_set_expressions", "rule_pr_auc",
        "stream_markov_ordered"],
    "round7b_total": [
        "doc_perplexity_filter", "dsir_importance_weights",
        "hard_negative_mining", "local_clustering_coefficient"],
    "round7c_total": [
        "rrf_hybrid_search", "ndcg_retrieval_eval", "mmr_diversified_topk",
        "bootstrap_revenue_ci", "conformal_price_threshold",
        "cuped_adjusted_lift", "vocab_richness_report",
        "group_kfold_assignment", "containment_near_dups",
        "isotonic_calibration", "kaplan_meier_conversion",
        "mann_whitney_variant_test", "ks_split_drift",
        "tokenizer_fertility", "incremental_corpus_dedup",
        "stream_incremental_dedup", "regression_metrics_report"],
    "round7d_total": [
        "nation_revenue_gini", "brand_assoc_rules_top20",
        "kendall_tau_binned", "peak_concurrency_by_type",
        "readability_report", "template_prefix_dups",
        "stream_peak_concurrency", "user_twap_value", "ohlc_hourly_bars",
        "cohort_ltv_curve", "session_path_top10",
        "minhash_calibration_report", "cdc_last_writer_state",
        "stream_cdc_state", "revenue_bridge_wow", "abc_xyz_parts",
        "neyman_allocation_plan", "neyman_quota_sample"],
    "round7e_total": [
        "benford_digit_audit", "activity_weekend_chi2",
        "value_mad_outliers", "theil_sen_user_trend", "segment_year_pivot",
        "referential_integrity_audit", "stream_funnel_ordered",
        "mrr_retrieval_eval", "welch_t_variant_test",
        "diff_in_diff_purchases", "variant_quantile_effects",
        "sprt_daily_monitor", "seasonal_naive_backtest",
        "holt_linear_daily", "props_variant_stats",
        "funnel_conversion_24h", "linear_touch_attribution",
        "session_entry_exit_report", "revenue_retention_waterfall",
        "fulfillment_cycle_percentiles"],
    "round8_total": [
        "media_decode_stats", "kmv_value_quantiles", "user_pca_projection",
        "stream_kmv_quantiles", "audio_frame_features", "image_tile_stats",
        "chunked_documents"],
    "round9_total": [
        "media_features", "media_frame_sample", "media_resize_stats",
        "heavy_hitter_tokens", "smote_resampled_counts",
        "tsne_substitute_projection", "gif_decode_stats",
        "events_jsonl_roundtrip", "orders_orc_roundtrip",
        "documents_csv_gauntlet", "events_partitioned_prune",
        "schema_evolution_union", "compression_codec_report",
        "stream_jsonl_ingest", "compacted_scan_digest",
        "schema_drift_report", "documents_text_roundtrip",
        "pq_quantization_report", "pq_adc_topk", "hyperball_reach_report",
        "truncated_embedding_recall", "png_decode_stats",
        "ivfpq_adc_topk"],
    "round11_total": [
        "jpeg_decode_stats", "jpeg_color_decode_stats",
        "jpeg420_decode_stats", "lsh_ann_topk", "theta_user_overlap",
        "stream_theta_overlap", "repeated_substring_spans"],
    "round12_total": [
        "jpeg_restart_decode_stats", "jpeg_progressive_decode_stats",
        "jpeg_progressive_color_decode_stats",
        "jpeg_progressive_420_decode_stats", "jpeg_color_sampled_digest",
        "jpeg420_sampled_digest", "avi_mjpeg_decode_stats",
        "tiff_decode_stats", "autoencoder_fixed_anomalies",
        "ocsvm_fixed_anomalies"],
}

# Queries whose output grows with the data are consumed with count();
# every other query is collected. embedding_ann_near_dups and
# near_dup_groups stay collected although their output is large: both
# end in a row-preserving left join whose right side is aggregate-unique,
# so a count() lets Catalyst prune the entire scoring/closure subtree
# and times an empty plan.
COUNT = {
    "two_hop_resource_paths", "supplier_running_revenue",
    "top_orders_per_customer", "exact_dedup_groups", "token_counts",
    "minhash_sig_near_dups", "event_sessions", "benchmark_decontamination",
    "cohort_retention", "unigram_logprob_scores",
    "customer_order_distribution", "returned_items_top20",
    "kmeans_fixed_anomalies", "corpus_curation_pipeline",
    "bpe_subword_freqs", "time_to_next_purchase", "stream_session_windows",
    "dup_span_stats", "repeated_substring_spans",
}

# Always isolated-re-measured regardless of in-run rank: queries whose
# in-run numbers have previously disagreed with quiet-box reruns.
ISOLATE_ALWAYS = ["stream_topk_users"]

# The disk-persisted indexes: their queries are build-once/search-only
# by declared contract, so their in-group medians are warm-index
# numbers; deleting the index and timing one invocation records what
# the first run on a fresh dataset costs.
COLD_BUILD = [("incremental_corpus_dedup", advanced._dedup_index_path),
              ("ivfpq_adc_topk", advanced._ivfpq_index_path)]


def time_query(spark, queries: dict, name: str) -> float:
    """Wall seconds to build query ``name`` and consume its result.

    The ML detector memo exists for intra-app ensemble consistency, but
    a timed run must never measure a cache lookup, so it is cleared
    first and every run recomputes from the parquet inputs.
    """
    ml_queries._memo.clear()
    start = time.perf_counter()
    df = queries[name](spark, SF_DIR)
    df.count() if name in COUNT else df.collect()
    return time.perf_counter() - start


def time_sorted3(spark, queries: dict, name: str) -> list[float]:
    """Three timed runs, sorted: [min, median, max]. Single-run numbers
    on a shared box jitter ±20%; the median is the steady-state
    estimate and the min the quiet-box one."""
    return sorted(time_query(spark, queries, name) for _ in range(3))


def compiles(spark) -> int:
    """Janino compilations so far in this JVM (Spark's CodegenMetrics).
    A generated class found in the codegen cache is not counted, so a
    warm query that still compiles is recompiling evicted or unstable
    code."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def count_round_trips(spark) -> list[int]:
    """From now on, count this process's py4j gateway round trips (each
    Python -> JVM call: DataFrame building, conf reads, actions) into
    the returned one-element list."""
    client = type(spark.sparkContext._gateway._gateway_client)
    send, calls = client.send_command, [0]

    def counted(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    client.send_command = counted
    return calls


def print_subset(spark, queries: dict, names: list[str]) -> None:
    total_med = total_min = 0.0
    trips = count_round_trips(spark)
    for name in names:
        before, trips_before = compiles(spark), trips[0]
        runs = time_sorted3(spark, queries, name)
        total_med += runs[1]
        total_min += runs[0]
        print(f"{name:42s} med {runs[1]:7.3f}  min {runs[0]:7.3f}  "
              f"max {runs[2]:7.3f}  compiles {compiles(spark) - before:4d}"
              f"  py4j {trips[0] - trips_before:6d}")
    print(f"{'TOTAL':42s} med {total_med:7.3f}  min {total_min:7.3f}")


def main() -> None:
    names = sys.argv[1:]
    queries = all_queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"unknown query name(s): {' '.join(unknown)}")
    t0 = time.perf_counter()
    spark = get_spark("bench")
    # the JVM launch: "used" maps the CDS archive, "wrote" dumps one at
    # exit, "off" loads every class from the jars
    session = {"launch_s": round(time.perf_counter() - t0, 3),
               "cds": cds.mode(spark)}
    # warm the JVM (codegen, Arrow, parquet reader) once so per-query
    # timings reflect steady state, not first-query class loading
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    queries["after_hours_top10"](spark, SF_DIR).limit(1).collect()
    if names:
        print_subset(spark, queries, names)
        return

    # min/max are kept beside the median: the spread tells box noise
    # from a real change without re-running.
    spread: dict[str, list[float]] = {}
    timings: dict[str, float] = {}

    def time_median(name: str) -> None:
        spread[name] = [round(t, 3)
                        for t in time_sorted3(spark, queries, name)]
        timings[name] = spread[name][1]

    for name in HEADLINE:
        time_median(name)
    total = round(sum(timings[n] for n in HEADLINE), 3)
    total_min = round(sum(spread[n][0] for n in HEADLINE), 3)
    total_max = round(sum(spread[n][2] for n in HEADLINE), 3)

    # Cold builds run AFTER the headline (their index writes inflated
    # the headline 9.6 -> 11.5 s when they ran first) and BEFORE the
    # groups, so the in-group reps stay warm-index numbers.
    cold: dict[str, float] = {}
    for name, path_fn in COLD_BUILD:
        shutil.rmtree(path_fn(SF_DIR), ignore_errors=True)
        cold[f"{name}_coldbuild"] = round(
            time_query(spark, queries, name), 3)

    groups: dict[str, float] = {}
    for label, members in GROUPS.items():
        for name in members:
            time_median(name)
        groups[label] = round(sum(timings[n] for n in members), 3)

    # Isolated re-measure of the 10 slowest queries (plus the
    # ISOLATE_ALWAYS watchlist): a fresh spark.newSession() per query,
    # after every group finished. In-run medians on a shared box have
    # repeatedly produced phantom regressions (stream_markov 7.1 s
    # in-run vs 1.9 s isolated); a second, quieter sample separates
    # noise from a real regression without re-running.
    slowest = sorted(timings, key=timings.get, reverse=True)[:10]
    slowest += [n for n in ISOLATE_ALWAYS if n not in slowest]
    isolated = {name: round(time_sorted3(spark.newSession(), queries,
                                         name)[1], 3)
                for name in slowest}

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # The full per-query map once overflowed a tail capture of stdout
    # (the line was truncated mid-string), so per-query detail goes to
    # BENCH_DETAIL.json and the ONE printed line stays minimal:
    # headline total + headline per-query timings + group totals.
    with open("BENCH_DETAIL.json", "w") as fh:
        json.dump({"metric": "headline_queries_total", "value": total,
                   "value_min": total_min, "value_max": total_max,
                   "unit": "sec", "queries": timings,
                   "spread_min_med_max": spread, **groups,
                   "cold_build": cold, "isolated": isolated,
                   "session": session, "sf": float(sf)}, fh, indent=1)
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "value_min": total_min,
        "value_max": total_max,
        "unit": "sec",
        "queries": {n: timings[n] for n in HEADLINE},
        **groups,
        "cold_build": cold,
        "sf": float(sf),
    }))


if __name__ == "__main__":
    main()
