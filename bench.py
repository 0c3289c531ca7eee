"""Benchmark driver: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "runs": {section: [pass totals]},
"best": {section: sec}, "sf": ...}. Headline and TPC-H sections run
TWICE; per-query times are best-of-2 and both pass totals are emitted,
so machine-weather variance is visible in the record itself.

Each query is executed to completion via a count() action (results are
not collected to the driver — the cost measured is scan + shuffle +
aggregation, the part that matters at scale).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# extension-operator timings reported separately (not in the headline
# metric, which tracks the reference-surface queries against BASELINE)
EXTENSION_QUERIES = [
    "minhash_lsh_near_dup_documents",
    "simhash_near_dup_documents",
    "embedding_topk_bruteforce",
    "embedding_topk_lsh",
    "embedding_topk_ivf",
    "embedding_lsh_dup_pairs",
    "asof_join_events",
    "range_join_events_pairs",
    "corpus_curation_pipeline",
    "token_counts_documents",
    "chunk_documents_overlap",
    "chunk_documents_bpe",
    "bpe_token_counts_documents",
    "fuzzy_part_name_pairs",
    "ngram_jaccard_pairs_df_capped",
    "repetition_ratio_documents",
    "decontaminate_corpus",
    "funnel_view_click_purchase",
    "weekly_cohort_retention",
    "tfidf_top_terms_documents",
    "bm25_search_documents",
    "containment_pairs_documents",
    "cross_dedup_new_vs_corpus",
    "knn_label_vote_embeddings",
    "event_type_cooccurrence",
    "rolling_user_value_6h",
    "kmv_distinct_users_per_type",
    "binned_quantiles_events_value",
    "cm_frequency_top_users_events",
    "semantic_dup_pairs_embeddings",
    "cross_near_dup_new_vs_corpus",
    "event_transition_matrix",
    "attribution_last_touch_events",
    "weighted_sample_documents",
    "pii_redacted_documents",
    "text_normalize_documents",
    "line_dedup_documents",
    "quality_classifier_documents",
    "lang_temperature_resample",
    "bigram_pmi_top20",
    "dup_gram_coverage_documents",
    "mad_outliers_events",
    "decayed_user_value",
    "pagerank_event_types",
    "rolling_7d_distinct_users",
    "winsorized_stats_events",
    "decile_bins_events",
    "ngram_novelty_documents",
    "source_mixture_resample",
    "image_ahash_near_dup",
    "corpus_prep_pipeline",
    "seasonal_residual_events",
    "corpus_health_summary",
    "hybrid_search_rrf",
    "hybrid_search_rrf_maintained",
    "train_val_test_split_documents",
    "group_split_events_no_leakage",
    "ab_test_conversion_events",
    "chi2_lang_source_documents",
    "top_session_paths_events",
    "cusum_changepoint_events",
    "market_basket_part_pairs",
    "minmax_scaled_embedding_elements",
    "hits_event_types",
    "rag_retrieval_pipeline",
    "rag_retrieval_maintained",
    "expectations_suite_orders",
    "unigram_lm_quality_documents",
    "ols_trend_events_daily",
    "pareto_frontier_parts",
    "kaplan_meier_conversion_events",
    "triangle_count_copurchase",
    "golden_record_users",
    "position_attribution_events",
    "hll_distinct_users_per_type",
    "ks_two_sample_events",
    "mann_whitney_events",
    "rfm_segmentation_events",
    "gini_revenue_by_segment",
    "pydatasource_synthetic_docs",
    "kl_mixture_drift_sources",
    "variant_props_events",
    "cdc_apply_orders_changelog",
    "ewma_daily_counts_events",
    "profile_events_table",
    "embedding_topk_pq",
    "embedding_topk_ivfpq",
    "embedding_topk_opq",
    "embedding_topk_ivfopq",
    "opq_balance_audit_embeddings",
    "cm_frequency_audit_events",
    "cm_error_summary_events",
    "cm_heavy_hitter_screen_events",
    "bottomk_sample_documents",
    "bottomk_sample_per_lang_documents",
    "dp_noisy_counts_events",
    "k_anonymity_audit_events",
    "theil_sen_trend_events",
    "acf_daily_counts_events",
    "item_item_cosine_parts",
    "remove_duplicate_spans_documents",
    "naive_bayes_lang_documents",
    "fellegi_sunter_linkage_parts",
    "bpe_train_merges_distributed",
    "reconcile_snapshots_orders",
    "windowed_funnel_events",
    "activity_islands_users",
    "incremental_join_view_revenue",
    "zipf_heaps_by_source",
    "kmv_set_ops_event_types",
    "bom_explosion_parts",
    "dedup_cluster_representatives",
    "content_defined_chunks_documents",
    "compression_ratio_documents",
    "asof_forward_join_events",
    "spatial_neighbor_pairs_customers",
    "time_weighted_avg_value_users",
    "clamped_running_balance_parts",
    "rolling_median_value_7d",
    "silhouette_centroid_embeddings",
    "gdpr_erasure_cascade_report",
    "label_propagation_communities_events",
    "mutual_information_type_hour",
    "shortest_paths_3hop_event_types",
    "bom_closure_recursive_cte",
    "lateral_top3_orders_per_customer",
    "scd2_point_in_time_brand",
    "sql_udf_adjusted_revenue",
    "id_sequence_gaps_orders",
    "token_budget_allocation_sources",
    "quality_ensemble_documents",
    "weighted_jaccard_pairs_documents",
    "embedding_topk_filtered",
    "embedding_topk_filtered_ivf",
    "ivfopq_recall_audit_embeddings",
    "dedup_clusters_maintained",
    "near_dup_pairs_maintained",
    "balanced_panel_maintained",
    "corpus_keep_list_maintained",
    "semantic_dup_pairs_maintained",
    "semantic_keep_list_maintained",
    "table_fingerprint_orders",
    "corpus_curation_v2_pipeline",
    "exact_median_order_value",
    "exact_percentiles_events_value",
    "lorenz_deciles_customers",
    "group_median_order_value",
    "weighted_median_lineitem_price",
    "fd_violations_part_supplier",
    "theil_index_revenue_by_segment",
    "salted_revenue_by_brand",
    "zorder_layout_orders",
    "deterministic_epoch_shuffle_documents",
    "bigram_lm_quality_documents",
    "maxsim_multivector_topk",
    "inclusion_dependency_audit",
    "lsh_recall_audit_documents",
    "blocking_quality_audit_parts",
    "length_bucketed_batches_documents",
    "semantic_decontamination_embeddings",
    "semantic_decontamination_ivf_embeddings",
    "zorder_key_customers",
    "zorder_key_equidepth_orders",
    "hilbert_key_customers",
    "bloom_membership_audit_documents",
    "bloom_fp_audit_summary_documents",
    "join_skew_audit_events_type",
    "matryoshka_recall_audit_embeddings",
    "embedding_covariance_audit",
    "pca_variance_explained_embeddings",
    "covariance_maintained_embeddings",
    "pca_scree_maintained",
    "drift_report_maintained",
    "dsir_importance_resample_documents",
    "l_diversity_audit_events",
    "suggest_expectations_orders",
    "embedding_drift_audit_embeddings",
]
# Registry queries not listed here or in BENCH_/TPCH_QUERIES are
# bench-excluded by design (cheap single-shuffle shapes whose cost is a
# subset of a listed query's); ALL registered queries run through the
# driver's per-round correctness gate regardless.

BENCH_QUERIES = [
    "pricing_summary",
    "revenue_by_nation",
    "top_customers_by_revenue",
    "pk_dedup_keep_first_lineitem",
    "fk_orphans_stale_supplier_dim",
    "date_inversion_ship_before_order",
    "chronology_orders_lifecycle",
    "snapshot_diff_orders",
    "dedup_events_user_type",
    "sessionization_events",
    "events_hourly_agg",
    "null_counts_events",
]

# all 22 TPC-H query patterns (timed separately from the headline metric,
# which tracks the reference-surface queries against BASELINE)
TPCH_QUERIES = [
    "pricing_summary",                  # Q1
    "cheapest_supplier_per_part",       # Q2
    "shipping_priority_topn",           # Q3
    "order_priority_count",             # Q4
    "revenue_by_nation",                # Q5
    "filtered_revenue_forecast",        # Q6
    "nation_pair_shipping_volume",      # Q7
    "nation_market_share",              # Q8
    "product_profit_by_nation_year",    # Q9
    "returned_items_by_customer",       # Q10
    "important_part_inventory",         # Q11
    "priority_line_counts",             # Q12
    "customer_order_distribution",      # Q13
    "promo_revenue_ratio",              # Q14
    "top_revenue_supplier",             # Q15
    "supplier_count_by_part_class",     # Q16
    "small_order_part_revenue",         # Q17
    "large_order_customers",            # Q18
    "disjunctive_part_revenue",         # Q19
    "excess_stock_suppliers",           # Q20
    "waiting_suppliers",                # Q21
    "idle_rich_customers",              # Q22
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # the driver entry point registers EVERY query module — importing it
    # here keeps bench's registry identical to the correctness gate's
    # (a per-module import list silently drifted: ext9/ext10 queries
    # were missing from the extensions timings until r10 wave 2)
    import __spark_entry__  # noqa: F401

    from _data_engineering_pipeline_project_spark import memo
    from _data_engineering_pipeline_project_spark import queries as q
    from _data_engineering_pipeline_project_spark.session import get_spark

    spark = get_spark("bench")

    # load stamps: BENCH_r04 recorded 15.06 s for a block that measures
    # 6.3 s idle — a contaminated run (driver-side contention) must be
    # self-labeling, so the summary carries the 1-min loadavg before and
    # after the headline block (VERDICT r4 #5)
    load_before = round(os.getloadavg()[0], 2)

    # warm the JVM + parquet footers once so per-query times measure the
    # query, not first-touch JIT
    q.QUERIES["order_priority_count"](spark, sf_dir).count()

    # Two full passes per timed section, per-query best-of-2 (VERDICT
    # r11 #4): the r11 driver bench read +16%/+34% on an UNCHANGED
    # query surface, and two back-to-back idle runs of identical code
    # swung 40% — single-pass numbers conflate machine weather with
    # regressions. Pass 1 also pays one-time codegen/JIT; pass 2 is
    # warm. Both pass totals are emitted (``runs``) so the variance
    # itself stays visible, and ``best`` / the headline value use the
    # per-query minima — the steady-state number a regression would
    # actually move.
    def run_section(names: list[str], passes: int = 2):
        per_query: dict[str, float] = {}
        pass_totals: list[float] = []
        for _ in range(passes):
            ptotal = 0.0
            for name in names:
                fn = q.QUERIES.get(name)
                if fn is None:
                    continue
                t0 = time.time()
                fn(spark, sf_dir).count()
                dt = time.time() - t0
                ptotal += dt
                per_query[name] = round(min(per_query.get(name, dt), dt), 3)
            pass_totals.append(round(ptotal, 3))
        return per_query, pass_totals

    timings, headline_runs = run_section(BENCH_QUERIES)
    total = sum(timings.values())

    load_after_headline = round(os.getloadavg()[0], 2)

    ext_timings: dict[str, float] = {}
    for name in EXTENSION_QUERIES:
        fn = q.QUERIES.get(name)
        if fn is None:
            continue
        t0 = time.time()
        fn(spark, sf_dir).count()
        ext_timings[name] = round(time.time() - t0, 3)
        # evict operator-internal self-join caches between queries
        spark.catalog.clearCache()

    tpch_timings, tpch_runs = run_section(TPCH_QUERIES)
    tpch_total = sum(tpch_timings.values())

    # Full detail dump first (one long line — informational only), then
    # the driver-contract summary as the very last line. The summary
    # keeps the per-query dict (the driver's schema requires "queries")
    # but drops the 130-entry extensions/tpch detail, so it stays an
    # order of magnitude shorter than the detail line. "load" stamps the
    # 1-min loadavg (before warm-up / after the headline block / at
    # exit): a contaminated measurement labels itself. "memo" is the
    # session memo's hit/miss/key-error/eviction counts for the run.
    loads = [load_before, load_after_headline, round(os.getloadavg()[0], 2)]
    print(
        json.dumps(
            {
                "metric": "headline_queries_detail",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "extensions": ext_timings,
                "tpch": tpch_timings,
                "tpch_total": round(tpch_total, 3),
                "runs": {"headline": headline_runs, "tpch": tpch_runs},
                "best": {
                    "headline": round(total, 3),
                    "tpch": round(tpch_total, 3),
                },
                "load": loads,
                "memo": memo.stats(),
                "sf": sf,
            }
        )
    )
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "tpch_total": round(tpch_total, 3),
                "runs": {"headline": headline_runs, "tpch": tpch_runs},
                "best": {
                    "headline": round(total, 3),
                    "tpch": round(tpch_total, 3),
                },
                "load": loads,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
