"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()``
exposes one callable per implemented operator from SURVEY.md §2;
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for each
(omitted for non-SQL-expressible ops → rows-only check).
"""

from __future__ import annotations

import inspect
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    from sparketl.operators.relational import q_flagship_pricing_summary

    return q_flagship_pricing_summary(spark, "/root/testdata/sf0.001")


# Round-15 rotation (r14 verdict task 8): the driver checks the FIRST
# 50 entries in iteration order. Window layout: (a) the FULL 32-entry
# round-9-stale cohort — recomputed from CORRECTNESS_r01..r14 as every
# live registry entry whose latest driver verdict is round 9 (census:
# r9x32, r10x48, r11x49, r12x50, r13x50, r14x50; zero never-verified);
# (b) the 9 entries whose query paths this OPTIMIZATION round
# restructured most deeply — the ManagedTable write/MERGE machinery
# rewrite (driver-insert merges, write-job stats, capture) flows
# through ext_155/160/166/87/19/156/161/109/79 — so the driver
# re-proves them at sf0.1, not only the sf0.01 full sweep; (c) the
# remaining 9 slots fall to the alphabetically-first round-10-stale
# entries (several of which — ext_03_ann_ivf, ext_117, ext_145 — also
# sit on code touched this round). After this window no live entry's
# latest driver verdict is older than round 10. Duplicates with the
# audit-trail sections below collapse on first occurrence (queries()
# builds a dict).
_FRONT = [
    # ---- round-15 window: (a) the 32-entry round-9-stale cohort ----
    "ext_03_embedding_near_dup",
    "ext_04_lang_id",
    "ext_04_quality",
    "ext_04_text_stats",
    "ext_04_token_count_bpe",
    "ext_06_sessionize_stateful",
    "ext_132_clustering",
    "ext_136_image_neardup",
    "ext_139_resample",
    "ext_142_incremental_join",
    "ext_143_epoch_shuffle",
    "ext_144_hll_union",
    "ext_45_histogram",
    "ext_46_orphan_audit",
    "ext_48_lm_score",
    "ext_51_trend",
    "tierc_disjunctive_revenue",
    "tierc_forecast_revenue",
    "tierc_lateral_topn",
    "tierc_market_share",
    "tierc_min_cost_supplier",
    "tierc_priority_semijoin",
    "tierc_product_profit",
    "tierc_returned_items",
    "tierc_scalar_funcs",
    "tierc_small_qty_revenue",
    "tierc_supplier_cnt",
    "tierc_top_revenue_supplier",
    "tierc_tsql_funcs7",
    "tierc_tsql_pagination",
    "tierc_volume_customers",
    "tierc_waiting_orders",
    # ---- (b) restructured-this-round table/streaming entries ----
    "ext_155_stream_upsert",
    "ext_160_stream_topk_ivm",
    "ext_166_cdc_ranked_view",
    "ext_87_incremental_view",
    "ext_19_scd2",
    "ext_156_incremental_topk",
    "ext_161_zorder_skipping",
    "ext_109_zorder",
    "ext_79_snapshot_diff",
    # ---- (c) alphabetically-first round-10-stale fillers ----
    "ext_01_dedup_documents",
    "ext_02_minhash_lsh",
    "ext_03_ann_ivf",
    "ext_03_ann_lsh",
    "ext_04_token_counts",
    "ext_08_stratified_sample",
    "ext_117_incremental_lsh",
    "ext_12_decontaminate",
    "ext_145_stream_full_join",
    # ---- end of the round-15 driver window ----
    # earlier windows below (audit trail / stable ordering)
    # ---- round-14 window: (a) the 38-entry round-8-stale cohort ----
    "ext_131_autocorr",
    "ext_133_kmeans",
    "ext_135_trailing_window",
    "ext_137_auc",
    "ext_138_stream_enrich",
    "ext_140_retention",
    "ext_141_funnel",
    "ext_17_quantize",
    "ext_20_winsorize",
    "ext_27_transitions",
    "ext_28_cdf",
    "ext_29_fuzzy_join",
    "ext_32_unpivot",
    "ext_33_props_numbers",
    "ext_34_trigram_lm",
    "ext_35_chunk_overlap",
    "ext_36_bag_dedup",
    "ext_37_containment",
    "ext_39_bloom_join",
    "ext_40_hash_sample",
    "ext_41_pagerank",
    "ext_42_window_suite",
    "ext_43_moment_stats",
    "ext_44_exact_percentiles",
    "ext_52_prefix_jaccard",
    "ext_55_countmin",
    "ext_59_quality_buckets",
    "ext_60_embedding_outliers",
    "ext_95_interevent_gaps",
    "prof_01_table_profile",
    "tierc_acct_screening",
    "tierc_asof_sql",
    "tierc_cross_apply",
    "tierc_custdist",
    "tierc_groupby_all",
    "tierc_outer_apply",
    "tierc_tsql_funcs6",
    "tierc_unpivot_sql",
    # ---- (b) new in round 14 ----
    "ext_167_unigram_lm",
    "ext_168_unigram_encode",
    # ---- (c) alphabetically-first round-9-stale fillers ----
    "agg_01_group_sum",
    "agg_03_count_avg",
    "agg_04_distinct",
    "agg_04_having",
    "agg_05_cube",
    "agg_05_grouping_sets",
    "agg_05_rollup",
    "agg_05_stats",
    "ext_02_simhash",
    "ext_03_cosine_topk",
    # ---- end of the round-14 driver window ----
    # earlier windows below (audit trail / stable ordering)
    "agg_07_quantiles",
    "ext_100_ttl_dedup",
    "ext_101_stream_ttl_dedup",
    "ext_102_weighted_interp",
    "ext_103_stream_left_join",
    "ext_104_grouped_ols",
    "ext_105_stream_sliding",
    "ext_106_dsir_selection",
    "ext_107_ewma",
    "ext_108_jl_projection",
    "ext_109_zorder",
    "ext_110_jsonl_source",
    "ext_111_jsonl_stream",
    "ext_112_changepoint",
    "ext_113_weighted_sample",
    "ext_114_sequence_packing",
    "ext_115_source_kl",
    "ext_116_leakage_safe_folds",
    "ext_118_grouped_anova",
    "ext_119_chi2_independence",
    "ext_120_temperature_mixture",
    "ext_121_sorted_neighborhood",
    "ext_122_benford_audit",
    "ext_123_mannwhitney",
    "ext_124_ks_test",
    "ext_125_concentration",
    "ext_126_attribution",
    "ext_127_conversion_lag",
    "ext_128_stream_attribution",
    "ext_129_lexical_diversity",
    "ext_21_collocations",
    "ext_31_outliers",
    "ext_97_spearman",
    "ext_98_embedding_covariance",
    "tierc_pivot_sql",
    "tierc_promo_qty_suppliers",
    "tierc_recursive_spine",
    "tierc_same_year_revenue",
    "tierc_sql_udf",
    "tierc_tsql_funcs3",
    "tierc_tsql_funcs4",
    "tierc_tsql_funcs5",
    "tierc_value_concentration",
    "tierc_variant_props",
    "ext_165_ivfadc_add",
    "ext_166_cdc_ranked_view",
    "agg_02_value_counts",
    "agg_06_pivot",
    "ext_09_hll_ndv",
    "ext_130_welch_ttest",
    "ext_75_substring_dup",
    "ext_02_canonical_docs",
    "ext_02_dup_clusters",
    "ext_05_from_json_struct",
    "ext_06_hourly_window",
    "ext_07_asof_join",
    "ext_07_range_join",
    "ext_08_reservoir_per_group",
    "ext_10_tfidf_topk",
    "ext_11_rolling_7d",
    "ext_13_pii_scrub",
    "ext_18_mix_sources",
    "ext_19_scd2",
    "ext_24_salted_join",
    "ext_76_stream_hourly",
    "ext_77_shard_plan",
    "ext_78_interleave",
    "ext_79_snapshot_diff",
    "ext_80_triplet_mining",
    "ext_81_knn_eval",
    "ext_83_skyline",
    "ext_84_copurchase",
    "ext_87_incremental_view",
    "ext_88_udtf_chunks",
    "ext_89_grouped_corr",
    "ext_90_triangles",
    "ext_91_rrf_fusion",
    "ext_92_rolling_wau",
    "ext_93_ngram_novelty",
    "ext_94_cross_source_leak",
    "tierc_exists_subquery",
    "tierc_line_status",
    "tierc_local_supplier_volume",
    "tierc_nation_volume",
    "tierc_promo_revenue",
    "tierc_scalar_subquery",
    "tierc_shipping_priority",
    "tierc_sql_passthrough",
    "tierc_tsql_concat",
    "tierc_tsql_dates",
    "tierc_tsql_funcs",
    "tierc_tsql_funcs2",
    "tierc_tsql_top",
    "ext_159_ivfadc",
    "ext_160_stream_topk_ivm",
    "ext_161_zorder_skipping",
    "ext_162_pca_whitening",
    "ext_163_ivf_maintenance",
    "ext_164_quantile_bands",
    "ext_157_partitioned_scan",
    "ext_158_bucketed_join",
    "ext_156_incremental_topk",
    "ext_155_stream_upsert",
    "ext_153_csv_source",
    "ext_154_orc_source",
    "ext_152_matryoshka",
    "ext_151_pq_adc",
    "ext_148_connected_components",
    "ext_149_bm25",
    "ext_150_ctfidf",
    "ext_147_histogram_quantiles",
    "tierc_qualify_setop",
    "tierc_qualify_distinct",
    "tierc_qualify",
    "tierc_qualify_cte",
    "tierc_qualify_subquery",
    "ext_69_bpe_merges",
    "ext_74_bpe_encode",
    "ext_146_incremental_ndv",
    "prj_04_stringify",
    "set_intersect_except",
    "set_union",
    "srt_01_order_by",
    "srt_02_limit_offset",
    "subquery_above_avg",
    "window_rank",
    "window_running_sum",
    "ext_15_pack_positions",
    "ext_15_pack_bins",
    "ext_15_chunk_stats",
    "ext_mm_decode",
    "ext_mm_frames",
    "ext_mm_resize",
    "ext_mm_audio",
    "ext_03_label_centroids",
    "ext_04_fingerprint",
    "ext_04_gopher_flags",
    "ext_04_length_histogram",
    "ext_04_repetition",
    "ext_05_json_extract",
    "ext_06_sessionize",
    "ext_14_passage_dedup",
    "ext_66_mixture_weights",
    "ext_67_hash_split",
    "ext_68_tv_drift",
    "ext_70_dedup_pipeline",
    "ext_71_semdedup",
    "ext_72_clean_corpus",
    "ext_73_stream_join",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from sparketl.operators import relational

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in (relational,):
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("q_"):
                out[name[2:]] = fn
    try:
        from sparketl.operators import ext_queries

        out.update(ext_queries.EXT_QUERIES)
    except ImportError:
        pass
    try:
        from sparketl.operators import engine_queries

        out.update(engine_queries.ENGINE_QUERIES)
    except ImportError:
        pass
    front = [n for n in _FRONT if n in out]
    rest = sorted(n for n in out if n not in _FRONT)
    return {n: out[n] for n in [*front, *rest]}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each oracle-checkable query."""
    from sparketl.oracles import all_oracles

    return {k: v for k, v in all_oracles().items() if k in queries()}
