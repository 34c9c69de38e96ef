"""The query catalog: name -> (spark, sf_dir) -> DataFrame, plus the
DuckDB oracle SQL for every SQL-expressible query.

This is the driver-facing inventory (SURVEY §2 coverage).  Keys without
an oracle entry are genuinely non-SQL-expressible (iterative K-Means,
hash-family LSH, pandas decode) and get rows-only checks; each of those
has invariant tests in tests/ instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.plans import analytics as AN
from kmeans_mapreduce_spark.plans import kmeans_queries as KQ
from kmeans_mapreduce_spark.plans import pipeline_queries as PQ
from kmeans_mapreduce_spark.plans import pipeline_queries2 as PQ2
from kmeans_mapreduce_spark.plans import pipeline_queries3 as PQ3
from kmeans_mapreduce_spark.plans import pipeline_queries4 as PQ4
from kmeans_mapreduce_spark.plans import graph_queries as GQ
from kmeans_mapreduce_spark.plans import relational as R
from kmeans_mapreduce_spark.plans import relational_ext as RX
from kmeans_mapreduce_spark.plans import relational_ext2 as RX2
from kmeans_mapreduce_spark.plans import relational_ext3 as RX3
from kmeans_mapreduce_spark.plans import pipeline_queries5 as PQ5
from kmeans_mapreduce_spark.plans import pipeline_queries6 as PQ6
from kmeans_mapreduce_spark.plans import pipeline_queries7 as PQ7
from kmeans_mapreduce_spark.plans import relational_ext4 as RX4
from kmeans_mapreduce_spark.plans import analytics2 as AN2
from kmeans_mapreduce_spark.plans import analytics3 as AN3
from kmeans_mapreduce_spark.plans import analytics4 as AN4
from kmeans_mapreduce_spark.plans import analytics5 as AN5
from kmeans_mapreduce_spark.plans import analytics6 as AN6
from kmeans_mapreduce_spark.plans import analytics7 as AN7
from kmeans_mapreduce_spark.plans import analytics8 as AN8
from kmeans_mapreduce_spark.plans import analytics9 as AN9
from kmeans_mapreduce_spark.plans import analytics10 as AN10
from kmeans_mapreduce_spark.plans import analytics11 as AN11
from kmeans_mapreduce_spark.plans import pipeline_queries8 as PQ8
from kmeans_mapreduce_spark.plans import pipeline_queries9 as PQ9
from kmeans_mapreduce_spark.plans import pipeline_queries10 as PQ10
from kmeans_mapreduce_spark.plans import pipeline_queries11 as PQ11
from kmeans_mapreduce_spark.plans import pipeline_queries12 as PQ12
from kmeans_mapreduce_spark.plans import pipeline_queries13 as PQ13
from kmeans_mapreduce_spark.plans import pipeline_queries14 as PQ14
from kmeans_mapreduce_spark.plans import pipeline_queries15 as PQ15
from kmeans_mapreduce_spark.plans import pipeline_queries16 as PQ16
from kmeans_mapreduce_spark.plans import pipeline_queries17 as PQ17
from kmeans_mapreduce_spark.plans import pipeline_queries18 as PQ18
from kmeans_mapreduce_spark.plans import pipeline_queries19 as PQ19


def kmeans_fit_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference-semantics Lloyd loop (deterministic: fixed initial
    centroids = first 4 points, mean-movement tol 0.01, empty-keeps-old).
    Output: per-cluster size + first mean coordinate of the converged
    model.  Iterative -> no SQL oracle; invariants in tests/."""
    from kmeans_mapreduce_spark.operators.kmeans import fit_kmeans_native
    from kmeans_mapreduce_spark.sources.ingest import points_from_embeddings

    # No DataFrame cache and no small-file repartition (r15 opt): the
    # loop reads the numpy block cache, so the input parquet is scanned
    # exactly twice — a pushed-down 4-row init pick and the one block-
    # build pass.  The final size/centroid report rides the fit's own
    # extra assignment pass (report_final) instead of a separate
    # corpus aggregation — same counts/sums fold, one less 64-wide
    # DataFrame agg.
    pts = points_from_embeddings(spark, sf_dir, dim=64, parallelize=False)
    init = [
        list(r["features"])
        for r in pts.where(F.col("id") < 4).orderBy("id").collect()
    ]
    res = fit_kmeans_native(
        pts, k=4, dim=64, initial_centroids=init, report_final=True,
    )
    # Spark's round() is BigDecimal HALF_UP over the shortest repr;
    # Python's round() is HALF_EVEN — replicate the former exactly
    # so the report matches the old F.round(mean[0], 6) bit-for-bit.
    from decimal import ROUND_HALF_UP, Decimal

    def _r6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    rows = [
        (c, cnt, _r6(res.final_sums[c][0] / cnt))
        for c, cnt in enumerate(res.final_counts)
        if cnt > 0  # recenter reports non-empty clusters only
    ]
    return spark.createDataFrame(rows, "cluster_id int, cnt bigint, m0 double")


def kmeans_fit_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib KMeans fast path (k=10, seed=42): cluster sizes.  Cluster
    ids are implementation-defined -> expose only the size distribution,
    sorted, which is stable for a pinned seed.  Rows-only check."""
    from kmeans_mapreduce_spark.operators.kmeans import fit_kmeans_mllib
    from kmeans_mapreduce_spark.sources.ingest import points_from_embeddings

    pts = points_from_embeddings(spark, sf_dir, dim=64)
    _, assigned = fit_kmeans_mllib(pts, k=10, seed=42)
    return (
        assigned.groupBy("cluster_id")
        .agg(F.count("*").alias("size"))
        .select("size")
        .orderBy("size")
    )


# Dict order is load-bearing: the driver's correctness gate checks the
# FIRST 50 entries only.  Window composition each round: (a) queries
# with NO driver-recorded row yet, (b) queries changed this round,
# (c) queries new this round, then (d) stable driver-green fill.
# Everything outside the window is still covered by pytest plan tests
# and tools/compare.py (full catalog, every round).
#
# ROTATION LEDGER (update each round): rounds 1-2 covered km_* + core
# relational + RX + early RX2; round 3 covered pipeline + RX2 + RX3 +
# q11/q16/ohlc/sample/sessionize/approx.  Round 4's window (below)
# rotates in the 10 never-recorded queries (events_funnel,
# events_retention_cohorts, pipeline_corpus_curation,
# sketch_rollup_weekly_users, dq_validation_report, ann_pq_topk,
# set_multiset_priorities, case_coalesce_buckets, array_top_tokens,
# scd2_user_value_history), the 6 changed entries (agg_collect_sets,
# dedup_embedding_cosine, ann_lsh_topk, mm_decode,
# ann_brute_topk_pandas, events_ohlc_rollup), and the round-4 new
# queries (pipeline/text/graph batches + the final TPC-H shapes
# q2/q9/q12/q20).  After round 4, every catalog query has at least one
# driver-recorded green except the round-4 (c) entries that no longer
# fit the 50-slot window (see test_contract.py for the pinned list);
# those rotate into round 5's window.
#
# ROUND-5 (a) SET — local-sweep green only, never driver-recorded; put
# these in round 5's first 50: batch-6 (lm_bigram_logprob,
# sketch_countmin_tokens, sample_weighted_bychars, docs_pmi_pairs,
# embedding_pca_power, events_ewma, ab_test_ztest,
# attribution_last_touch, stats_chi2_independence,
# graph_triangle_count), batch-7 (orders_pareto_frontier,
# events_markov_transitions, events_autocorr_daily,
# events_rolling_corr, hist_equidepth_prices, docs_vocab_coverage,
# events_dow_seasonality, orders_mom_growth, sessions_overlap_pairs),
# batch-8 (events_user_lifecycle, events_engagement_gini,
# customers_rfm_segments, events_stickiness_dau_mau,
# sessions_bounce_rate), batch-9 (suppliers_nation_hhi,
# orders_priority_mix_shift, nations_trade_balance,
# sketch_quantile_rollup), batch-10 (mm_audio_windows,
# events_ks_two_sample, orders_benford_digits, docs_oov_rate),
# batch-11 (events_top_paths, cohort_ltv_curves,
# events_peak_detection), batch-12 (customers_repurchase_intervals,
# sessions_duration_stats, lineitem_shipping_lead_time,
# parts_brand_share_topn, events_hourly_heatmap), batch-13
# (parts_market_basket, events_conversion_latency), batch-14
# (users_longest_streaks, events_forecast_backtest,
# orders_new_vs_returning, orders_hist2d_price_quantity), plus
# whatever of round-4's (c) tail the judge reports unrecorded.
# That is ~44 candidates for 50 slots — prioritize (changed >
# never-recorded batches in ascending batch order), and keep the
# remainder for round 6.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # (a) never driver-recorded — entries 1-10
    "events_funnel": AN.events_funnel,
    "events_retention_cohorts": AN.events_retention_cohorts,
    "pipeline_corpus_curation": PQ.pipeline_corpus_curation,
    "sketch_rollup_weekly_users": AN.sketch_rollup_weekly_users,
    "dq_validation_report": RX3.dq_validation_report,
    "ann_pq_topk": PQ.ann_pq_topk,
    "ann_pq_fixed_topk": PQ.ann_pq_fixed_topk,
    "pipeline_ngram_contamination": PQ7.pipeline_ngram_contamination,
    "dedup_canonical_exact": PQ7.dedup_canonical_exact,
    "pipeline_bpe_train": PQ7.pipeline_bpe_train,
    "pipeline_bpe_apply_fixed": PQ7.pipeline_bpe_apply_fixed,
    "set_multiset_priorities": RX.set_multiset_priorities,
    "case_coalesce_buckets": RX.case_coalesce_buckets,
    "array_top_tokens": RX.array_top_tokens,
    "scd2_user_value_history": AN.scd2_user_value_history,
    # (b) changed this round — entries 11-16
    "agg_collect_sets": RX2.agg_collect_sets,
    "dedup_embedding_cosine": PQ.dedup_embedding_cosine,
    "ann_lsh_topk": PQ.ann_lsh_topk,
    "mm_decode": PQ.mm_decode,
    "ann_brute_topk_pandas": PQ.ann_brute_topk_pandas,
    "events_ohlc_rollup": R.events_ohlc_rollup,
    # (c) new this round — entries 17-21
    "pipeline_contamination_check": PQ2.pipeline_contamination_check,
    "pipeline_seq_packing": PQ2.pipeline_seq_packing,
    "pipeline_domain_mix": PQ2.pipeline_domain_mix,
    "text_repetition_score": PQ2.text_repetition_score,
    "window_percentile_customers": RX3.window_percentile_customers,
    "events_gapfill_locf": AN.events_gapfill_locf,
    "dedup_semantic_clusters": PQ3.dedup_semantic_clusters,
    # oracle pins the 4-cell fixture; the operator default is ceil(sqrt(N))
    "knn_graph_cells": PQ3.knn_graph_cells_fixture,
    "pipeline_lang_rebalance": PQ3.pipeline_lang_rebalance,
    "text_pii_scrub": PQ3.text_pii_scrub,
    "embedding_dim_stats": PQ3.embedding_dim_stats,
    "text_quality_zscore": PQ3.text_quality_zscore,
    # (c continued) new this round, third batch — sharding, stratified
    # sampling, dataset cards, BPE induction, cluster reps, entropy,
    # sweep-line concurrency
    "pipeline_shuffle_shards": PQ4.pipeline_shuffle_shards,
    "pipeline_stratified_sample": PQ4.pipeline_stratified_sample,
    "pipeline_dataset_card": PQ4.pipeline_dataset_card,
    "pipeline_bpe_pair_counts": PQ4.pipeline_bpe_pair_counts,
    "dedup_cluster_representatives": PQ4.dedup_cluster_representatives,
    "text_char_entropy": PQ4.text_char_entropy,
    "events_concurrency_sweep": PQ4.events_concurrency_sweep,
    "dedup_substring_pairs": PQ4.dedup_substring_pairs,
    "events_anomaly_mad": AN.events_anomaly_mad,
    "table_column_stats": AN.table_column_stats,
    "hybrid_search_rrf": PQ4.hybrid_search_rrf,
    "corpus_drift_psi": PQ4.corpus_drift_psi,
    # (c continued) iterative graph analytics over the k-NN graph
    "graph_pagerank_vectors": GQ.graph_pagerank_vectors,
    "graph_bfs_reach": GQ.graph_bfs_reach,
    # (c continued) final TPC-H shapes: Q2/Q9/Q12/Q20 adaptations
    "q2_min_cost_supplier": RX4.q2_min_cost_supplier,
    "q9_nation_profit": RX4.q9_nation_profit,
    "q12_priority_shipping": RX4.q12_priority_shipping,
    "q20_dominant_suppliers": RX4.q20_dominant_suppliers,
    # (c continued) RAG chunking, fuzzy linkage, snapshot diff
    "pipeline_doc_chunks": PQ5.pipeline_doc_chunks,
    "linkage_fuzzy_parts": PQ5.linkage_fuzzy_parts,
    "snapshot_diff_orders": PQ5.snapshot_diff_orders,
    # (d) stable driver-green fill — entry 50, the last window slot
    "dedup_minhash": PQ.dedup_minhash,
    # ---- 50-entry window boundary (driver checks entries 1-50) ----
    "dedup_components": PQ.dedup_components,
    "ann_ivf_topk": PQ.ann_ivf_topk,
    "text_bm25_rank": PQ.text_bm25_rank,
    "events_sessionize": R.events_sessionize,
    "agg_approx_stats": R.agg_approx_stats,
    "q22_dormant_customers": RX3.q22_dormant_customers,
    "dedup_latest_event": RX2.dedup_latest_event,
    "q11_important_parts": RX3.q11_important_parts,
    "q16_supplier_part_counts": RX3.q16_supplier_part_counts,
    "sample_train_split": PQ.sample_train_split,
    "text_token_stats": PQ.text_token_stats,
    "text_quality": PQ.text_quality,
    "text_lang_id": PQ.text_lang_id,
    "doc_fingerprint": PQ.doc_fingerprint,
    "dedup_exact": PQ.dedup_exact,
    "dedup_ngram_jaccard": PQ.dedup_ngram_jaccard,
    "dedup_simhash": PQ.dedup_simhash,
    "ann_brute_topk": PQ.ann_brute_topk,
    "mm_metadata": PQ.mm_metadata,
    "mm_frame_sample": PQ.mm_frame_sample,
    "q4_late_shipments": RX2.q4_late_shipments,
    "q7_volume_shipping": RX3.q7_volume_shipping,
    "q8_market_share": RX3.q8_market_share,
    "q13_customer_distribution": RX3.q13_customer_distribution,
    "q15_top_supplier": RX3.q15_top_supplier,
    "q18_large_volume": RX3.q18_large_volume,
    "q21_sole_late_supplier": RX3.q21_sole_late_supplier,
    "sort_global_daily": RX2.sort_global_daily,
    # (kmeans_fit_native has standing driver signal via entry();
    #  km_two_iterations is oracle-pinned by compare.py + plan tests)
    "km_two_iterations": KQ.km_two_iterations,
    "kmeans_fit_fixed": KQ.kmeans_fit_fixed,
    "kmeans_fit_invariants": KQ.kmeans_fit_invariants,
    "mllib_fit_invariants": KQ.mllib_fit_invariants,
    "kmeans_fit_native": kmeans_fit_native,
    "kmeans_fit_mllib": kmeans_fit_mllib,
    "kmeans_fit_lineitem": KQ.kmeans_fit_lineitem,
    "text_tfidf_topterms": PQ.text_tfidf_topterms,
    "text_bpe_tokens": PQ.text_bpe_tokens,
    "q10_returned_revenue": RX2.q10_returned_revenue,
    "array_higher_order": RX2.array_higher_order,
    "lateral_pos_tokens": RX2.lateral_pos_tokens,
    "generator_order_years": RX2.generator_order_years,
    "agg_filter_clause": RX2.agg_filter_clause,
    "window_rows_moving_avg": RX2.window_rows_moving_avg,
    "date_interval_arith": RX2.date_interval_arith,
    "hist_order_values": RX2.hist_order_values,
    "join_null_safe_status": RX2.join_null_safe_status,
    "q14_promo_revenue": RX2.q14_promo_revenue,
    "q19_branded_revenue": RX2.q19_branded_revenue,
    "string_customer_profile": RX2.string_customer_profile,
    "map_event_type_counts": RX2.map_event_type_counts,
    # K-Means pipeline stages (reference parity, SURVEY §2.2-2.4)
    "ingest_typed_projection": KQ.ingest_typed_projection,
    "km_assign": KQ.km_assign,
    "km_recenter": KQ.km_recenter,
    "km_farthest": KQ.km_farthest,
    "km_delta": KQ.km_delta,
    "km_avg_pairwise": KQ.km_avg_pairwise,
    "km_avg_point_dist": KQ.km_avg_point_dist,
    "km_reshape_2d": KQ.km_reshape_2d,
    # Relational coverage (SURVEY §2.5-2.9 absent-in-reference surface)
    "q1_pricing_summary": R.q1_pricing_summary,
    "q3_shipping_priority": R.q3_shipping_priority,
    "q5_local_supplier": R.q5_local_supplier,
    "join_semi_urgent_customers": R.join_semi_urgent_customers,
    "join_anti_no_urgent": R.join_anti_no_urgent,
    "window_top_orders": R.window_top_orders,
    "window_running_total": R.window_running_total,
    "window_ntile_customers": R.window_ntile_customers,
    "agg_rollup_orders": R.agg_rollup_orders,
    "agg_cube_lineitem": R.agg_cube_lineitem,
    "agg_distinct_customers": R.agg_distinct_customers,
    "agg_salted_user_rollup": R.agg_salted_user_rollup,
    "agg_pivot_status": R.agg_pivot_status,
    "agg_unpivot_lineitem": R.agg_unpivot_lineitem,
    "q6_forecast_revenue": R.q6_forecast_revenue,
    "agg_grouping_sets_orders": R.agg_grouping_sets_orders,
    "string_part_names": R.string_part_names,
    "subq_small_quantity_revenue": R.subq_small_quantity_revenue,
    "join_outer_nation_activity": R.join_outer_nation_activity,
    "window_order_gaps": R.window_order_gaps,
    "topk_orders_global": R.topk_orders_global,
    "set_except_nations": R.set_except_nations,
    "set_intersect_nations": R.set_intersect_nations,
    "set_union_nations": R.set_union_nations,
    "join_range_quantity_bands": R.join_range_quantity_bands,
    "asof_events_orders": R.asof_events_orders,
    "asof_tolerance_purchase_click": R.asof_tolerance_purchase_click,
    "mm_image_tiles": PQ7.mm_image_tiles,
    "mm_decode_ppm": PQ12.mm_decode_ppm,
    "mm_resize_ppm": PQ12.mm_resize_ppm,
    "mm_tiles_ppm": PQ12.mm_tiles_ppm,
    "pq_train_invariants": PQ12.pq_train_invariants,
    "bpe_train_invariants": PQ12.bpe_train_invariants,
    "graph_knn_indegree_profile": PQ12.graph_knn_indegree_profile,
    "events_session_gap_sensitivity": PQ12.events_session_gap_sensitivity,
    "mm_ppm_pixel_histogram": PQ12.mm_ppm_pixel_histogram,
    "mm_decode_pnm_mixed": PQ12.mm_decode_pnm_mixed,
    "ann_ivf_pq_topk": PQ13.ann_ivf_pq_topk,
    "dedup_minhash_calibration": PQ13.dedup_minhash_calibration,
    "mm_pnm_mixed_histogram": PQ13.mm_pnm_mixed_histogram,
    "mm_decode_pbm": PQ13.mm_decode_pbm,
    "pipeline_mixture_schedule": PQ7.pipeline_mixture_schedule,
    "events_json_extract": R.events_json_extract,
    "events_tumbling_window": R.events_tumbling_window,
    "events_sliding_window": R.events_sliding_window,
    "events_session_window": R.events_session_window,
    # Relational extensions (percentiles, dates, subqueries, windows,
    # multiset ops, conditionals, explode)
    "agg_percentiles_lineitem": RX.agg_percentiles_lineitem,
    "date_orders_seasonality": RX.date_orders_seasonality,
    "subq_exists_parts": RX.subq_exists_parts,
    "subq_scalar_threshold": RX.subq_scalar_threshold,
    "window_value_funcs": RX.window_value_funcs,
    "window_range_frame": RX.window_range_frame,
    # Round-4 batch 6 (added after the round-4 window snapshot; these
    # rotate into round 5's first-50): bigram-LM scoring, count-min,
    # weighted sampling, PMI, PCA, EWMA, z-test, attribution,
    # chi-square, triangles
    "lm_bigram_logprob": PQ6.lm_bigram_logprob,
    "sketch_countmin_tokens": PQ6.sketch_countmin_tokens,
    "sample_weighted_bychars": PQ6.sample_weighted_bychars,
    "docs_pmi_pairs": PQ6.docs_pmi_pairs,
    "embedding_pca_power": PQ6.embedding_pca_power,
    "events_ewma": AN2.events_ewma,
    "ab_test_ztest": AN2.ab_test_ztest,
    "attribution_last_touch": AN2.attribution_last_touch,
    "stats_chi2_independence": AN2.stats_chi2_independence,
    "graph_triangle_count": GQ.graph_triangle_count,
    # Round-4 batch 7 (rotate into round 5's first-50): skyline,
    # Markov transitions, ACF, rolling corr, equi-depth histogram,
    # vocab coverage, weekday seasonality, MoM growth
    "orders_pareto_frontier": AN3.orders_pareto_frontier,
    "events_markov_transitions": AN3.events_markov_transitions,
    "events_autocorr_daily": AN3.events_autocorr_daily,
    "events_rolling_corr": AN3.events_rolling_corr,
    "hist_equidepth_prices": AN3.hist_equidepth_prices,
    "docs_vocab_coverage": AN3.docs_vocab_coverage,
    "events_dow_seasonality": AN3.events_dow_seasonality,
    "orders_mom_growth": AN3.orders_mom_growth,
    "sessions_overlap_pairs": AN3.sessions_overlap_pairs,
    # Round-4 batch 8 (rotate into round 5's first-50): growth
    # accounting, concentration, CRM segmentation, stickiness, bounce
    "events_user_lifecycle": AN4.events_user_lifecycle,
    "events_engagement_gini": AN4.events_engagement_gini,
    "customers_rfm_segments": AN4.customers_rfm_segments,
    "events_stickiness_dau_mau": AN4.events_stickiness_dau_mau,
    "sessions_bounce_rate": AN4.sessions_bounce_rate,
    # Round-4 batch 9 (rotate into round 5's first-50): market
    # structure over the TPC-H star
    "suppliers_nation_hhi": AN5.suppliers_nation_hhi,
    "orders_priority_mix_shift": AN5.orders_priority_mix_shift,
    "nations_trade_balance": AN5.nations_trade_balance,
    "sketch_quantile_rollup": AN5.sketch_quantile_rollup,
    "mm_audio_windows": PQ.mm_audio_windows,
    # Round-4 batch 10 (rotate into round 5's first-50): exact
    # distribution-comparison statistics
    "events_ks_two_sample": AN6.events_ks_two_sample,
    "orders_benford_digits": AN6.orders_benford_digits,
    "docs_oov_rate": AN6.docs_oov_rate,
    # Round-4 batch 11 (rotate into round 5's first-50): paths, LTV,
    # peaks
    "events_top_paths": AN7.events_top_paths,
    "cohort_ltv_curves": AN7.cohort_ltv_curves,
    "events_peak_detection": AN7.events_peak_detection,
    # Round-4 batch 12 (rotate into round 5's first-50): durations,
    # lead times, top-N+other
    "customers_repurchase_intervals": AN8.customers_repurchase_intervals,
    "sessions_duration_stats": AN8.sessions_duration_stats,
    "lineitem_shipping_lead_time": AN8.lineitem_shipping_lead_time,
    "parts_brand_share_topn": AN8.parts_brand_share_topn,
    "events_hourly_heatmap": AN8.events_hourly_heatmap,
    # Round-4 batch 13 (rotate into round 5's first-50): market
    # basket, conversion latency
    "parts_market_basket": AN9.parts_market_basket,
    "events_conversion_latency": AN9.events_conversion_latency,
    # Round-4 batch 14 (rotate into round 5's first-50): streaks,
    # forecast backtest, new-vs-returning, 2-D histogram
    "users_longest_streaks": AN10.users_longest_streaks,
    "events_forecast_backtest": AN10.events_forecast_backtest,
    "orders_new_vs_returning": AN10.orders_new_vs_returning,
    "orders_hist2d_price_quantity": AN10.orders_hist2d_price_quantity,
    "events_variant_props": AN10.events_variant_props,
    # Round-4 batch 15 (rotate into round 5/6): returns league table,
    # per-source duplicate rate
    "lineitem_returns_by_brand": AN10.lineitem_returns_by_brand,
    "docs_dup_rate_by_source": AN10.docs_dup_rate_by_source,
    # Round-4 batch 16 (rotate into round 5/6): Pareto classes,
    # price positioning
    "customers_abc_classes": AN11.customers_abc_classes,
    "parts_price_positioning": AN11.parts_price_positioning,
    # Round-5 batch 18 (rotate into round 6): data-selection /
    # governance stages — DSIR importance resampling, Bloom dedup
    # pre-filter, curriculum staging, int8 quantization, k-anonymity,
    # linear quality-classifier inference
    "pipeline_dsir_select": PQ8.pipeline_dsir_select,
    "dedup_bloom_probe": PQ8.dedup_bloom_probe,
    "pipeline_curriculum_stages": PQ8.pipeline_curriculum_stages,
    "embedding_int8_quant": PQ8.embedding_int8_quant,
    "privacy_k_anonymity": PQ8.privacy_k_anonymity,
    "pipeline_quality_classifier": PQ8.pipeline_quality_classifier,
    # Round-5 batch 19 (rotate into round 6): corpus statistics for
    # training-data planning — n-gram novelty, token-budget epochs,
    # Zipf's-law fit
    "docs_ngram_novelty": PQ9.docs_ngram_novelty,
    "pipeline_token_budget_epochs": PQ9.pipeline_token_budget_epochs,
    "text_zipf_fit": PQ9.text_zipf_fit,
    # Round-5 batch 20 (rotate into round 6): watermark lateness audit,
    # DP noisy release counts, LSH recall@k evaluation
    "events_watermark_audit": PQ10.events_watermark_audit,
    "dp_noisy_counts": PQ10.dp_noisy_counts,
    "ann_lsh_recall": PQ10.ann_lsh_recall,
    "pipeline_preference_pairs": PQ10.pipeline_preference_pairs,
    "text_tokenizer_fertility": PQ10.text_tokenizer_fertility,
    "pipeline_span_corruption": PQ10.pipeline_span_corruption,
    # Round-7 additions: the flagship Lloyd loop end-to-end under an
    # exact integer-quantized oracle, the BPE merge-fold under a fixed
    # merge table, and the MinHash candidate-recall contract
    "dedup_minhash_recall": PQ10.dedup_minhash_recall,
    # Round-7 batch 21: pipeline planning artifacts — dedup threshold
    # economics, temperature-scaled source sampling, embedding-norm QC,
    # context-length planning, unigram-KL domain shift
    "pipeline_dedup_yield_curve": PQ11.pipeline_dedup_yield_curve,
    "pipeline_sample_temperature": PQ11.pipeline_sample_temperature,
    "embedding_norm_outliers": PQ11.embedding_norm_outliers,
    "pipeline_context_length_plan": PQ11.pipeline_context_length_plan,
    "text_unigram_kl_sources": PQ11.text_unigram_kl_sources,
    # Round-7 batch 22: packing waste across budget choices,
    # cross-source duplicate leakage, PQ quantization distortion
    "pipeline_pack_efficiency": PQ11.pipeline_pack_efficiency,
    "pipeline_dedup_cross_source": PQ11.pipeline_dedup_cross_source,
    "embedding_pq_distortion": PQ11.embedding_pq_distortion,
    # Round-7 batch 23: rank-based quality selection on the shared
    # integer logit — prune-strength sweep + CCNet-style terciles
    "pipeline_quality_prune_sweep": PQ11.pipeline_quality_prune_sweep,
    "pipeline_quality_terciles": PQ11.pipeline_quality_terciles,
    # Round-7 batch 24 (window already full — first in the round-8
    # (a) queue): shard balance audit + SimHash Hamming histogram
    "pipeline_shard_balance": PQ11.pipeline_shard_balance,
    "dedup_simhash_histogram": PQ11.dedup_simhash_histogram,
    "pipeline_budget_downsample": PQ11.pipeline_budget_downsample,
    # Round-10 batch 28: production-knob IVF-PQ recall calibration,
    # driver-visible bucketed co-location, mixed-mime resize, and the
    # tri-arm (P6/P5/P4) pixel histogram
    "ann_ivf_pq_recall": PQ14.ann_ivf_pq_recall,
    "knn_graph_bucketed": PQ14.knn_graph_bucketed,
    "mm_resize_pnm_mixed": PQ14.mm_resize_pnm_mixed,
    "mm_pnm_tri_histogram": PQ14.mm_pnm_tri_histogram,
    # Round-10 batch 29: the production tuning curves — IVF-PQ
    # cost/recall vs n_probe over one trained index, and LSH banding
    # precision/recall vs bands x rows over one signature set
    "ann_ivf_pq_probe_sweep": PQ14.ann_ivf_pq_probe_sweep,
    "dedup_minhash_band_sweep": PQ14.dedup_minhash_band_sweep,
    # Round-10 batch 30: the refine stage (exact re-rank of the ADC
    # shortlist — the fix the probe sweep prescribes) and the last
    # missing TPC-H number
    "ann_ivf_pq_rerank_recall": PQ14.ann_ivf_pq_rerank_recall,
    "q17_small_quantity_revenue": RX3.q17_small_quantity_revenue,
    # Round-11 batch 31: the shortlist axis of the ANN tuning-curve
    # family, and the RIFF/WAVE real-codec arm (first non-netpbm real
    # decode: chunk walk + pad byte -> per-file features + windowed
    # energy)
    "ann_rerank_shortlist_sweep": PQ15.ann_rerank_shortlist_sweep,
    "mm_wav_features": PQ15.mm_wav_features,
    "mm_wav_window_energy": PQ15.mm_wav_window_energy,
    # Round-11 batch 32: the PNG (compressed) and AVI (video container)
    # real-codec arms, and the codebook axis of the ANN tuning-curve
    # family
    "mm_png_decode_stats": PQ16.mm_png_decode_stats,
    "mm_png_pixel_histogram": PQ16.mm_png_pixel_histogram,
    "mm_avi_frame_sample": PQ16.mm_avi_frame_sample,
    "ann_ivf_pq_codebook_sweep": PQ16.ann_ivf_pq_codebook_sweep,
    "mm_gif_decode_stats": PQ16.mm_gif_decode_stats,
    # Round-11 batch 33: distributed classifier training with a FULL
    # oracle — the exhaustive decision-stump split search (the
    # CART/GBDT building block; a batch-perceptron draft was measured
    # oscillating at ~50% on this feature space and replaced mid-round)
    "quality_stump_fit": PQ17.quality_stump_fit,
    "quality_stump_holdout": PQ17.quality_stump_holdout,
    # Round-11 batch 34: Z-order layout pruning + the compressed-arm
    # resize (outside the r11 window — queued as round-12 (a) entries;
    # pre-verified vanilla)
    "layout_zorder_pruning": PQ17.layout_zorder_pruning,
    "mm_resize_png": PQ16.mm_resize_png,
    # Round-11 batch 35: the quarantine face of the codec arms and the
    # trained filter's margin-calibration readout (round-12 (a) queue)
    "mm_decode_quarantine": PQ17.mm_decode_quarantine,
    # Round-12 batch 36: BOOSTED training with a full oracle — three
    # rounds of the weighted split search under integer sample
    # reweighting (weights double on each round's mistakes), against a
    # two-feature OR label no single stump can express; the holdout
    # row carries the single-stump control next to the ensemble
    "quality_boost_fit": PQ18.quality_boost_fit,
    "quality_boost_holdout": PQ18.quality_boost_holdout,
    # Round-13 batch 37: the composed corpus-curation pipeline's batch
    # face — frozen-ensemble filter -> exact canonical dedup ->
    # content-addressed shards, per-shard checksummed readout; the
    # streaming topology over the same stages is gated by
    # tests/test_corpus_pipeline.py and the 100x stress harness
    "corpus_curation_e2e": PQ19.corpus_curation_e2e,
}

# ---------------------------------------------------------------------------
# WINDOW HISTORY: the per-round 50-entry driver windows (_R5_WINDOW,
# _R7_WINDOW, ...) are superseded lists — the full ledgers live in git
# history and each round's VERDICT/CORRECTNESS artifacts.  Only the
# CURRENT round's window is kept in code (the dict-reorder below plus
# the contract test pin).


# STANDING LEDGER RULE (VERDICT r12 #6): any window that re-samples a
# rows-only entry MUST carry its *_invariants sibling in the same
# window — the sibling's full hash is the cross-engine anchor the
# rows-only check lacks.

# ROUND-16 DRIVER WINDOW.  Composition per the round-15 ledger
# (executed exactly as pre-written at the r15 close, verified against
# a recomputed latest-round map from CORRECTNESS_r*.json):
# (b) round-15 reds: none (CORRECTNESS_r15: 49 full-green + the
#     by-design rows-only pipeline_bpe_train);
# (c) changed this round: ann_ivf_topk — operators/similarity.py
#     gained the merge_base cross-tree source-token check and the
#     tree-side FileSystem-handle fixes (ADVICE r15, both items);
#     refusal-only paths, but the module the probe routes through is
#     re-pinned with the change (same precedent as r15's (c));
# (d) rows-only freshness AT THE POLICY BOUND: kmeans_fit_native,
#     kmeans_fit_mllib, kmeans_fit_lineitem, ann_pq_topk (all sampled
#     r14; two-round policy) — per the standing rule each rides with
#     its invariants sibling (kmeans_fit_invariants,
#     mllib_fit_invariants, pq_train_invariants) in the same window.
#     This is also the numpy-block Lloyd engine's FIRST driver-recorded
#     oracle verification (VERDICT r15 "Next round" #1) and now covers
#     the r16 engine changes (tuple-encoded packed persist; the block
#     layout is since decided once, after the pack, from exact row
#     counts) and the r16 invariants-query overlap;
# (e) oldest-driver-green fill: the 4 remaining round-9-vintage rows
#     in catalog order (drains the round-9 bucket), then the first 38
#     round-10-vintage rows in catalog order (mm_frame_sample, the
#     39th, queues for round 17).
_R16_WINDOW = [
    # (c) changed this round
    "ann_ivf_topk",
    # (d) rows-only freshness at the policy bound + invariants siblings
    "kmeans_fit_native",
    "kmeans_fit_invariants",
    "kmeans_fit_mllib",
    "mllib_fit_invariants",
    "kmeans_fit_lineitem",
    "ann_pq_topk",
    "pq_train_invariants",
    # (e) oldest-green fill: round-9 vintage, catalog order (drains
    # the round-9 bucket)
    "subq_scalar_threshold",
    "window_value_funcs",
    "window_range_frame",
    "graph_triangle_count",
    # (e) oldest-green fill: round-10 vintage, catalog order (38 of
    # 39 — mm_frame_sample queues for round 17)
    "mm_ppm_pixel_histogram",
    "mm_pnm_mixed_histogram",
    "mm_resize_pnm_mixed",
    "dedup_minhash_band_sweep",
    "q17_small_quantity_revenue",
    "set_multiset_priorities",
    "case_coalesce_buckets",
    "array_top_tokens",
    "q4_late_shipments",
    "q10_returned_revenue",
    "array_higher_order",
    "lateral_pos_tokens",
    "generator_order_years",
    "agg_filter_clause",
    "window_rows_moving_avg",
    "date_interval_arith",
    "hist_order_values",
    "join_null_safe_status",
    "sort_global_daily",
    "q14_promo_revenue",
    "q19_branded_revenue",
    "string_customer_profile",
    "map_event_type_counts",
    "q7_volume_shipping",
    "q8_market_share",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q18_large_volume",
    "q21_sole_late_supplier",
    "pipeline_corpus_curation",
    "dq_validation_report",
    "text_tfidf_topterms",
    "text_bpe_tokens",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "knn_graph_cells",
    "ann_brute_topk",
    "mm_metadata",
]
assert len(_R16_WINDOW) == 50, len(_R16_WINDOW)
# ROUND-17 LEDGER (write _R17_WINDOW from this once round 16 records):
# compose as (b) any round-16 reds -> (c) round-17 new/changed ->
# (d) rows-only freshness AT THE POLICY BOUND: pipeline_bpe_train
# (sampled r15; two-round policy) — per the standing rule it rides
# with bpe_train_invariants in the same window (the four fit/PQ
# rows-only entries re-sample r16, next bound r18) -> (e) oldest-green
# fill: FIRST mm_frame_sample (the last round-10-vintage row), then
# round-11 vintage in catalog order (verify against a recomputed
# latest-round map from CORRECTNESS_r*.json).
# Dict-merge keeps the window's insertion order for the first 50 keys;
# duplicate keys later in QUERIES only update the (identical) value.
QUERIES = {**{n: QUERIES[n] for n in _R16_WINDOW}, **QUERIES}

ORACLES: dict[str, str] = {
    "ingest_typed_projection": KQ.INGEST_SQL,
    "km_assign": KQ.KM_ASSIGN_SQL,
    "km_recenter": KQ.KM_RECENTER_SQL,
    "km_farthest": KQ.KM_FARTHEST_SQL,
    "km_delta": KQ.KM_DELTA_SQL,
    "km_avg_pairwise": KQ.KM_AVG_PAIRWISE_SQL,
    "km_avg_point_dist": KQ.KM_AVG_POINT_SQL,
    "km_reshape_2d": KQ.KM_RESHAPE_SQL,
    "km_two_iterations": KQ.KM_TWO_ITER_SQL,
    "kmeans_fit_fixed": KQ.KM_FIT_FIXED_SQL,
    "kmeans_fit_invariants": KQ.KM_FIT_INVARIANTS_SQL,
    "mllib_fit_invariants": KQ.MLLIB_FIT_INVARIANTS_SQL,
    "pipeline_bpe_apply_fixed": PQ7.BPE_APPLY_FIXED_SQL,
    "dedup_minhash_recall": PQ10.MINHASH_RECALL_SQL,
    "pipeline_dedup_yield_curve": PQ11.YIELD_CURVE_SQL,
    "pipeline_sample_temperature": PQ11.SAMPLE_TEMPERATURE_SQL,
    "embedding_norm_outliers": PQ11.EMB_NORM_SQL,
    "pipeline_context_length_plan": PQ11.CONTEXT_LENGTH_SQL,
    "text_unigram_kl_sources": PQ11.UNIGRAM_KL_SQL,
    "pipeline_pack_efficiency": PQ11.PACK_EFFICIENCY_SQL,
    "pipeline_dedup_cross_source": PQ11.CROSS_SOURCE_SQL,
    "embedding_pq_distortion": PQ11.PQ_DISTORTION_SQL,
    "pipeline_quality_prune_sweep": PQ11.PRUNE_SWEEP_SQL,
    "pipeline_quality_terciles": PQ11.QUALITY_TERCILES_SQL,
    "pipeline_shard_balance": PQ11.SHARD_BALANCE_SQL,
    "dedup_simhash_histogram": PQ11.SIMHASH_HISTOGRAM_SQL,
    "pipeline_budget_downsample": PQ11.BUDGET_DOWNSAMPLE_SQL,
    "q1_pricing_summary": R.Q1_SQL,
    "q3_shipping_priority": R.Q3_SQL,
    "q5_local_supplier": R.Q5_SQL,
    "join_semi_urgent_customers": R.SEMI_SQL,
    "join_anti_no_urgent": R.ANTI_SQL,
    "window_top_orders": R.WINDOW_TOP_SQL,
    "window_running_total": R.WINDOW_RUN_SQL,
    "window_ntile_customers": R.NTILE_SQL,
    "agg_rollup_orders": R.ROLLUP_SQL,
    "agg_cube_lineitem": R.CUBE_SQL,
    "agg_distinct_customers": R.DISTINCT_SQL,
    "agg_salted_user_rollup": R.SALTED_SQL,
    "agg_pivot_status": R.PIVOT_SQL,
    "agg_unpivot_lineitem": R.UNPIVOT_SQL,
    "q6_forecast_revenue": R.Q6_SQL,
    "agg_grouping_sets_orders": R.GROUPING_SETS_SQL,
    "string_part_names": R.STRING_FUNCS_SQL,
    "subq_small_quantity_revenue": R.SUBQ_Q17_SQL,
    "join_outer_nation_activity": R.OUTER_SQL,
    "window_order_gaps": R.LAG_LEAD_SQL,
    "topk_orders_global": R.TOPK_GLOBAL_SQL,
    "agg_approx_stats": R.APPROX_STATS_SQL,
    "set_except_nations": R.EXCEPT_SQL,
    "set_intersect_nations": R.INTERSECT_SQL,
    "set_union_nations": R.UNION_SQL,
    "join_range_quantity_bands": R.RANGE_BAND_SQL,
    "asof_events_orders": R.ASOF_SQL,
    "asof_tolerance_purchase_click": R.ASOF_TOLERANCE_SQL,
    "mm_image_tiles": PQ7.MM_TILES_SQL,
    "mm_decode_ppm": PQ12.MM_DECODE_PPM_SQL,
    "mm_resize_ppm": PQ12.MM_RESIZE_PPM_SQL,
    "mm_tiles_ppm": PQ12.MM_TILES_PPM_SQL,
    "pq_train_invariants": PQ12.PQ_TRAIN_INVARIANTS_SQL,
    "bpe_train_invariants": PQ12.BPE_TRAIN_INVARIANTS_SQL,
    "graph_knn_indegree_profile": PQ12.KNN_INDEGREE_SQL,
    "events_session_gap_sensitivity": PQ12.SESSION_GAP_SENSITIVITY_SQL,
    "mm_ppm_pixel_histogram": PQ12.MM_PIXEL_HISTOGRAM_SQL,
    "mm_decode_pnm_mixed": PQ12.MM_DECODE_PNM_MIXED_SQL,
    "ann_ivf_pq_topk": PQ13.ANN_IVF_PQ_SQL,
    "dedup_minhash_calibration": PQ13.MINHASH_CALIBRATION_SQL,
    "mm_pnm_mixed_histogram": PQ13.MM_PNM_MIXED_HISTOGRAM_SQL,
    "mm_decode_pbm": PQ13.MM_DECODE_PBM_SQL,
    "ann_ivf_pq_recall": PQ14.ANN_IVF_PQ_RECALL_SQL,
    # the co-located build must reproduce the fixture graph exactly
    "knn_graph_bucketed": PQ3.KNN_GRAPH_SQL,
    "mm_resize_pnm_mixed": PQ14.MM_RESIZE_PNM_MIXED_SQL,
    "mm_pnm_tri_histogram": PQ14.MM_PNM_TRI_HISTOGRAM_SQL,
    "ann_ivf_pq_probe_sweep": PQ14.ANN_IVF_PQ_PROBE_SWEEP_SQL,
    "dedup_minhash_band_sweep": PQ14.MINHASH_BAND_SWEEP_SQL,
    "ann_ivf_pq_rerank_recall": PQ14.ANN_IVF_PQ_RERANK_SQL,
    "ann_rerank_shortlist_sweep": PQ15.ANN_RERANK_SHORTLIST_SWEEP_SQL,
    "mm_wav_features": PQ15.MM_WAV_FEATURES_SQL,
    "mm_wav_window_energy": PQ15.MM_WAV_WINDOW_ENERGY_SQL,
    "mm_png_decode_stats": PQ16.MM_PNG_DECODE_STATS_SQL,
    "mm_png_pixel_histogram": PQ16.MM_PNG_PIXEL_HISTOGRAM_SQL,
    "mm_avi_frame_sample": PQ16.MM_AVI_FRAME_SAMPLE_SQL,
    "ann_ivf_pq_codebook_sweep": PQ16.ANN_IVF_PQ_CODEBOOK_SWEEP_SQL,
    "mm_gif_decode_stats": PQ16.MM_GIF_DECODE_STATS_SQL,
    "quality_stump_fit": PQ17.QUALITY_STUMP_FIT_SQL,
    "quality_stump_holdout": PQ17.QUALITY_STUMP_HOLDOUT_SQL,
    "layout_zorder_pruning": PQ17.LAYOUT_ZORDER_PRUNING_SQL,
    "mm_resize_png": PQ16.MM_RESIZE_PNG_SQL,
    "mm_decode_quarantine": PQ17.MM_DECODE_QUARANTINE_SQL,
    "quality_boost_fit": PQ18.QUALITY_BOOST_FIT_SQL,
    "quality_boost_holdout": PQ18.QUALITY_BOOST_HOLDOUT_SQL,
    "corpus_curation_e2e": PQ19.CORPUS_CURATION_SQL,
    "q17_small_quantity_revenue": RX3.Q17_SQL,
    "pipeline_mixture_schedule": PQ7.MIXTURE_SCHEDULE_SQL,
    "events_json_extract": R.EVENTS_JSON_SQL,
    "events_tumbling_window": R.EVENTS_WINDOW_SQL,
    "events_sliding_window": R.SLIDING_SQL,
    "events_session_window": R.SESSION_WINDOW_SQL,
    "events_sessionize": R.SESSIONIZE_SQL,
    "agg_percentiles_lineitem": RX.PERCENTILES_SQL,
    "date_orders_seasonality": RX.DATE_SEASONALITY_SQL,
    "subq_exists_parts": RX.SUBQ_EXISTS_SQL,
    "subq_scalar_threshold": RX.SUBQ_SCALAR_SQL,
    "window_value_funcs": RX.WINDOW_VALUE_SQL,
    "window_range_frame": RX.WINDOW_RANGE_SQL,
    "set_multiset_priorities": RX.SET_MULTISET_SQL,
    "case_coalesce_buckets": RX.CASE_COALESCE_SQL,
    "array_top_tokens": RX.ARRAY_TOP_TOKENS_SQL,
    "q4_late_shipments": RX2.Q4_SQL,
    "q10_returned_revenue": RX2.Q10_SQL,
    "array_higher_order": RX2.ARRAY_HO_SQL,
    "lateral_pos_tokens": RX2.LATERAL_POS_SQL,
    "generator_order_years": RX2.GENERATOR_SQL,
    "agg_filter_clause": RX2.FILTER_CLAUSE_SQL,
    "window_rows_moving_avg": RX2.ROWS_MA_SQL,
    "date_interval_arith": RX2.DATE_ARITH_SQL,
    "hist_order_values": RX2.HIST_SQL,
    "join_null_safe_status": RX2.NULL_SAFE_SQL,
    "sort_global_daily": RX2.SORT_GLOBAL_SQL,
    "agg_collect_sets": RX2.COLLECT_SQL,
    "q14_promo_revenue": RX2.Q14_SQL,
    "q19_branded_revenue": RX2.Q19_SQL,
    "string_customer_profile": RX2.STRING2_SQL,
    "map_event_type_counts": RX2.MAP_COUNTS_SQL,
    "dedup_latest_event": RX2.DEDUP_LATEST_SQL,
    "q7_volume_shipping": RX3.Q7_SQL,
    "q8_market_share": RX3.Q8_SQL,
    "q13_customer_distribution": RX3.Q13_SQL,
    "q15_top_supplier": RX3.Q15_SQL,
    "q18_large_volume": RX3.Q18_SQL,
    "q21_sole_late_supplier": RX3.Q21_SQL,
    "q22_dormant_customers": RX3.Q22_SQL,
    "q11_important_parts": RX3.Q11_SQL,
    "q16_supplier_part_counts": RX3.Q16_SQL,
    "events_ohlc_rollup": R.OHLC_SQL,
    "sample_train_split": PQ.SAMPLE_SPLIT_SQL,
    "events_funnel": AN.FUNNEL_SQL,
    "events_retention_cohorts": AN.RETENTION_SQL,
    "pipeline_corpus_curation": PQ.CURATION_SQL,
    "sketch_rollup_weekly_users": AN.SKETCH_ROLLUP_SQL,
    "dq_validation_report": RX3.DQ_SQL,
    "scd2_user_value_history": AN.SCD2_SQL,
    "text_token_stats": PQ.TEXT_TOKEN_SQL,
    "text_tfidf_topterms": PQ.TFIDF_SQL,
    "text_bm25_rank": PQ.BM25_SQL,
    "text_bpe_tokens": PQ.TEXT_BPE_SQL,
    "text_quality": PQ.TEXT_QUALITY_SQL,
    "text_lang_id": PQ.TEXT_LANG_SQL,
    "doc_fingerprint": PQ.FINGERPRINT_SQL,
    "dedup_exact": PQ.DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": PQ.DEDUP_JACCARD_SQL,
    "dedup_minhash": PQ.DEDUP_JACCARD_SQL,  # LSH must equal ground truth here
    "dedup_components": PQ.DEDUP_COMPONENTS_SQL,
    "dedup_embedding_cosine": PQ.DEDUP_COSINE_SQL,
    "events_gapfill_locf": AN.GAPFILL_SQL,
    "dedup_simhash": PQ2.SIMHASH_SQL,
    "pipeline_contamination_check": PQ2.CONTAMINATION_SQL,
    "pipeline_seq_packing": PQ2.SEQ_PACKING_SQL,
    "pipeline_domain_mix": PQ2.DOMAIN_MIX_SQL,
    "text_repetition_score": PQ2.REPETITION_SQL,
    "window_percentile_customers": RX3.WINDOW_PERCENTILE_SQL,
    "dedup_semantic_clusters": PQ3.SEMANTIC_DEDUP_SQL,
    "knn_graph_cells": PQ3.KNN_GRAPH_SQL,
    "pipeline_lang_rebalance": PQ3.LANG_REBALANCE_SQL,
    "text_pii_scrub": PQ3.PII_SCRUB_SQL,
    "embedding_dim_stats": PQ3.EMB_STATS_SQL,
    "text_quality_zscore": PQ3.QUALITY_ZSCORE_SQL,
    "pipeline_shuffle_shards": PQ4.SHUFFLE_SHARDS_SQL,
    "pipeline_stratified_sample": PQ4.STRATIFIED_SAMPLE_SQL,
    "pipeline_dataset_card": PQ4.DATASET_CARD_SQL,
    "pipeline_bpe_pair_counts": PQ4.BPE_PAIRS_SQL,
    "dedup_cluster_representatives": PQ4.CLUSTER_REPS_SQL,
    "text_char_entropy": PQ4.CHAR_ENTROPY_SQL,
    "events_concurrency_sweep": PQ4.CONCURRENCY_SQL,
    "dedup_substring_pairs": PQ4.SUBSTRING_PAIRS_SQL,
    "events_anomaly_mad": AN.ANOMALY_MAD_SQL,
    "table_column_stats": AN.COLUMN_STATS_SQL,
    "hybrid_search_rrf": PQ4.HYBRID_RRF_SQL,
    "corpus_drift_psi": PQ4.CORPUS_PSI_SQL,
    "graph_pagerank_vectors": GQ.PAGERANK_SQL,
    "graph_bfs_reach": GQ.BFS_REACH_SQL,
    "q2_min_cost_supplier": RX4.Q2_SQL,
    "q9_nation_profit": RX4.Q9_SQL,
    "q12_priority_shipping": RX4.Q12_SQL,
    "q20_dominant_suppliers": RX4.Q20_SQL,
    "pipeline_doc_chunks": PQ5.DOC_CHUNKS_SQL,
    "linkage_fuzzy_parts": PQ5.LINKAGE_SQL,
    "snapshot_diff_orders": PQ5.SNAPSHOT_DIFF_SQL,
    "ann_brute_topk": PQ.ANN_BRUTE_SQL,
    "ann_lsh_topk": PQ.ANN_LSH_SQL,
    "ann_brute_topk_pandas": PQ.ANN_BRUTE4_SQL,
    "ann_ivf_topk": PQ.ANN_IVF_SQL,
    "ann_pq_fixed_topk": PQ.ANN_PQ_FIXED_SQL,
    "pipeline_ngram_contamination": PQ7.NGRAM_CONTAMINATION_SQL,
    "dedup_canonical_exact": PQ7.DEDUP_CANONICAL_SQL,
    "mm_metadata": PQ.MM_METADATA_SQL,
    "mm_decode": PQ.MM_DECODE_SQL,
    "mm_frame_sample": PQ.MM_FRAME_SQL,
    "lm_bigram_logprob": PQ6.LM_BIGRAM_SQL,
    "sketch_countmin_tokens": PQ6.CMS_SQL,
    "sample_weighted_bychars": PQ6.WEIGHTED_SAMPLE_SQL,
    "docs_pmi_pairs": PQ6.PMI_SQL,
    "embedding_pca_power": PQ6.PCA_SQL,
    "events_ewma": AN2.EWMA_SQL,
    "ab_test_ztest": AN2.ZTEST_SQL,
    "attribution_last_touch": AN2.ATTRIBUTION_SQL,
    "stats_chi2_independence": AN2.CHI2_SQL,
    "graph_triangle_count": GQ.TRIANGLE_SQL,
    "orders_pareto_frontier": AN3.PARETO_SQL,
    "events_markov_transitions": AN3.MARKOV_SQL,
    "events_autocorr_daily": AN3.AUTOCORR_SQL,
    "events_rolling_corr": AN3.ROLLCORR_SQL,
    "hist_equidepth_prices": AN3.HIST_EQUIDEPTH_SQL,
    "docs_vocab_coverage": AN3.VOCAB_COVERAGE_SQL,
    "events_dow_seasonality": AN3.DOW_SEASONALITY_SQL,
    "orders_mom_growth": AN3.MOM_GROWTH_SQL,
    "sessions_overlap_pairs": AN3.SESSIONS_OVERLAP_SQL,
    "events_user_lifecycle": AN4.LIFECYCLE_SQL,
    "events_engagement_gini": AN4.GINI_SQL,
    "customers_rfm_segments": AN4.RFM_SQL,
    "events_stickiness_dau_mau": AN4.STICKINESS_SQL,
    "sessions_bounce_rate": AN4.BOUNCE_SQL,
    "suppliers_nation_hhi": AN5.HHI_SQL,
    "orders_priority_mix_shift": AN5.PRIORITY_MIX_SQL,
    "nations_trade_balance": AN5.TRADE_BALANCE_SQL,
    "sketch_quantile_rollup": AN5.QUANTILE_ROLLUP_SQL,
    "mm_audio_windows": PQ.MM_AUDIO_SQL,
    "events_ks_two_sample": AN6.KS_SQL,
    "orders_benford_digits": AN6.BENFORD_SQL,
    "docs_oov_rate": AN6.OOV_SQL,
    "events_top_paths": AN7.TOP_PATHS_SQL,
    "cohort_ltv_curves": AN7.COHORT_LTV_SQL,
    "events_peak_detection": AN7.PEAKS_SQL,
    "customers_repurchase_intervals": AN8.REPURCHASE_SQL,
    "sessions_duration_stats": AN8.SESSION_DURATION_SQL,
    "lineitem_shipping_lead_time": AN8.LEAD_TIME_SQL,
    "parts_brand_share_topn": AN8.BRAND_SHARE_SQL,
    "events_hourly_heatmap": AN8.HOURLY_HEATMAP_SQL,
    "parts_market_basket": AN9.MARKET_BASKET_SQL,
    "events_conversion_latency": AN9.CONVERSION_LATENCY_SQL,
    "users_longest_streaks": AN10.STREAKS_SQL,
    "events_forecast_backtest": AN10.FORECAST_BACKTEST_SQL,
    "orders_new_vs_returning": AN10.NEW_VS_RETURNING_SQL,
    "orders_hist2d_price_quantity": AN10.HIST2D_SQL,
    "events_variant_props": AN10.VARIANT_PROPS_SQL,
    "lineitem_returns_by_brand": AN10.RETURNS_BY_BRAND_SQL,
    "docs_dup_rate_by_source": AN10.DUP_RATE_SQL,
    "customers_abc_classes": AN11.ABC_SQL,
    "parts_price_positioning": AN11.PRICE_POSITIONING_SQL,
    "pipeline_dsir_select": PQ8.DSIR_SELECT_SQL,
    "dedup_bloom_probe": PQ8.DEDUP_BLOOM_SQL,
    "pipeline_curriculum_stages": PQ8.CURRICULUM_SQL,
    "embedding_int8_quant": PQ8.INT8_QUANT_SQL,
    "privacy_k_anonymity": PQ8.K_ANONYMITY_SQL,
    "pipeline_quality_classifier": PQ8.QUALITY_CLASSIFIER_SQL,
    "docs_ngram_novelty": PQ9.NGRAM_NOVELTY_SQL,
    "pipeline_token_budget_epochs": PQ9.TOKEN_BUDGET_SQL,
    "text_zipf_fit": PQ9.ZIPF_SQL,
    "events_watermark_audit": PQ10.WATERMARK_AUDIT_SQL,
    "dp_noisy_counts": PQ10.DP_NOISY_SQL,
    "ann_lsh_recall": PQ10.ANN_RECALL_SQL,
    "pipeline_preference_pairs": PQ10.PREFERENCE_PAIRS_SQL,
    "text_tokenizer_fertility": PQ10.TOKENIZER_FERTILITY_SQL,
    "pipeline_span_corruption": PQ10.SPAN_CORRUPTION_SQL,
    # no oracle (rows-only): kmeans_fit_native, kmeans_fit_mllib,
    # kmeans_fit_lineitem (iterative Lloyd loops), ann_pq_topk
    # (codebooks from iterative K-Means) — see docstrings.
}
