"""Physical-plan audit for the headline queries.

Dumps ``explain("formatted")`` for every audited query at
$SPARK_GRAFT_SF_DIR and greps the plans for the properties that matter
at 100 TB:

- column pruning: parquet ReadSchema carries only referenced columns
- predicate pushdown: PushedFilters non-empty when the query filters
  scan columns
- broadcast joins on dimension tables (no shuffle on the fact side)
- no CartesianProduct / BroadcastNestedLoopJoin outside the known
  quadratic operators (pairwise near-dup at test scale)
- WholeStageCodegen spans exist (expressions stay JVM-side)

Writes PLANS.md at the repo root; exits non-zero on a hard violation.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries allowed to contain a nested-loop/cartesian join: the
# documented-quadratic pairwise ops (brute-force baselines).
QUADRATIC_OK = {
    "ext_02_ngram_jaccard",
    "ext_03_embedding_near_dup",
    "ext_03_cosine_topk",  # corpus × broadcast-queries by design
    "ext_81_knn_eval",  # same corpus × broadcast-query-slice shape as
    # cosine_topk (brute-force evaluator; LSH/IVF candidates are the
    # scale swap, see its docstring)
    "ext_152_matryoshka",  # corpus × broadcast-query-slice acceptance
    # report (exact rankings ARE the measurement; at production scale
    # the same report runs over an ANN-candidate sample instead)
}

# Queries whose plan carries a BroadcastNestedLoopJoin ONLY because a
# one-row (or ks-sized constant) aggregate is broadcast back into the
# projection — grand totals, percentile thresholds, corpus max. That is
# the scale-SAFE replacement for a constant-keyed window (which would
# shuffle the whole table into one partition); the "nested loop" runs
# once per row against a single broadcast row.
BROADCAST_SCALAR_OK = {
    "ext_16_heavy_hitters",  # one-row token-total broadcast for the
    # exact > N/(k+1) cross-multiply membership test (r10 exact twin)
    "ext_49_rfm",
    "ext_50_skew_report",
    "ext_58_vocab_coverage",
    "ext_66_mixture_weights",  # one-row w_total normalizer broadcast
    "ext_85_decile_binning",  # one-row percentile-threshold broadcast
    "ext_84_copurchase",  # one-row basket-count broadcast for lift
    "ext_92_rolling_wau",  # one-row (min_d, max_d) day-bounds broadcast
    "ext_97_spearman",  # triangular self-join of the per-partition
    # counts frame (≤ shuffle-width rows) computes rank offsets without
    # a constant-partition window — bounded by partitions², not data
    "ext_98_embedding_covariance",  # one-row dim-sized mean-array
    # broadcast for the map-side centered products
    "ext_106_dsir_selection",  # one-row (Q, T) feature-total broadcast
    # into the 128-row bucket-count frame for the smoothed log-ratios
    "ext_109_zorder",  # one-row (min,max)-range broadcast for the
    # Morton quantization
    "ext_114_sequence_packing",  # with_global_prefix_sum's triangular
    # self-join of the per-partition totals frame (≤ shuffle-width
    # rows) — same bounded shape as ext_97's rank offsets
    "ext_137_auc",  # one-row n_all total broadcast onto the 10-row
    # per-label aggregate for n_neg and the AUC denominator
    "ext_130_welch_ttest",  # one-row (nt, st, qt) corpus-total
    # broadcast — rest-of-corpus stats by exact subtraction
    "ext_132_clustering",  # three one-row attaches (edge count, triangle
    # count, dropped-part count) onto the one-row wedge aggregate for
    # the final report row
    "ext_115_source_kl",  # one-row corpus-total broadcast into the
    # (sources × 128)-cell log-ratio frame
    "ext_119_chi2_independence",  # one-row (N, n_buckets) total
    # broadcast into the sparse observed-cell frame
    "ext_120_temperature_mixture",  # one-row token-total and one-row
    # normalizer broadcasts into the per-source frame
    "ext_122_benford_audit",  # one-row row-count broadcast into the
    # 9-digit frame
    "ext_149_bm25",  # one-row corpus-stats broadcast (T, N, per-term
    # df) into the map-only per-document score projection
    "ext_150_ctfidf",  # one-row n_classes broadcast into the
    # (class, token) score frame
    "ext_164_quantile_bands",  # the 3-row quantile-rational frame
    # crossed with the group-sized bounds frame (groups × 3 constant
    # rows), and the ≤256-rows-per-group cumulative histogram joined
    # by (group, cum >= target) — both frames bounded by group
    # cardinality × bucket count, never data-sized (the ext_147
    # selection shape, per group)
    # r14 packed-codebook attaches: the ANN family's Lloyd/PQ
    # assignments are map-only array argmins against a ONE-ROW packed
    # centroid/codebook frame (k×dim ints) crossJoin-broadcast onto the
    # vector scan — the shape that replaced the ×n_cells exploded
    # distance join + per-vid argmin shuffles (see similarity.py
    # _pack). One broadcast row per attach, never data-sized.
    "ext_03_ann_ivf",
    "ext_133_kmeans",
    "ext_151_pq_adc",
    "ext_159_ivfadc",
    "ext_163_ivf_maintenance",
    "ext_168_unigram_encode",  # one-row piece→cost map broadcast onto
    # the distinct-word frame for the Viterbi segmentation expression
    # (the ext_149-style corpus-stats attach; r14-build entry first
    # audited this round)
}

AUDITED = [
    "flagship_pricing_summary",
    "join_03_star",
    "join_02_left",
    "agg_04_having",
    "agg_06_pivot",
    "window_rank",
    "tierc_sql_passthrough",
    "tierc_scalar_subquery",
    "ext_01_dedup_documents",
    "ext_03_cosine_topk",
    "ext_05_json_extract",
    "ext_06_sessionize",
    "ext_07_asof_join",
    "ext_07_range_join",
    "ext_02_dup_clusters",
    "tierc_shipping_priority",
    "tierc_local_supplier_volume",
    "agg_07_quantiles",
    "ext_08_stratified_sample",
    "prof_01_table_profile",
    "ext_10_tfidf_topk",
    "ext_11_rolling_7d",
    "ext_12_decontaminate",
    "ext_14_passage_dedup",
    "ext_15_pack_positions",
    "ext_15_chunk_stats",
    "ext_17_quantize",
    "ext_18_mix_sources",
    "ext_19_scd2",
    "ext_20_winsorize",
    "ext_08_reservoir_per_group",
    "ext_24_salted_join",
    "ext_25_gapfill",
    "ext_26_merge_intervals",
    "ext_29_fuzzy_join",
    "ext_30_top_paths",
    "ext_31_outliers",
    "ext_34_trigram_lm",
    "ext_36_bag_dedup",
    "ext_39_bloom_join",
    "ext_40_hash_sample",
    "ext_41_pagerank",
    "ext_42_window_suite",
    "ext_43_moment_stats",
    "ext_44_exact_percentiles",
    "ext_46_orphan_audit",
    "tierc_volume_customers",
    "tierc_disjunctive_revenue",
    "ext_48_lm_score",
    "ext_49_rfm",
    "ext_50_skew_report",
    "ext_51_trend",
    "ext_52_prefix_jaccard",
    "ext_53_hopping_window",
    "ext_54_session_window",
    "tierc_lateral_topn",
    "tierc_waiting_orders",
    "tierc_min_cost_supplier",
    "tierc_custdist",
    "tierc_returned_items",
    "ext_55_countmin",
    "ext_56_expectations",
    "ext_57_cumulative_users",
    "ext_58_vocab_coverage",
    "ext_59_quality_buckets",
    "ext_60_embedding_outliers",
    "ext_62_source_cap",
    "ext_63_curation_funnel",
    "ext_64_dataset_card",
    "ext_65_incremental_dedup",
    "ext_66_mixture_weights",
    "ext_67_hash_split",
    "ext_68_tv_drift",
    "ext_70_dedup_pipeline",
    "ext_71_semdedup",
    "ext_72_clean_corpus",
    "ext_74_bpe_encode",
    "ext_75_substring_dup",
    "ext_77_shard_plan",
    "ext_78_interleave",
    "ext_79_snapshot_diff",
    "ext_80_triplet_mining",
    "ext_81_knn_eval",
    "ext_82_lsh_dedup_pipeline",
    "ext_83_skyline",
    "ext_84_copurchase",
    "ext_85_decile_binning",
    "ext_86_mad_outliers",
    "ext_87_incremental_view",
    "ext_89_grouped_corr",
    "ext_90_triangles",
    "ext_91_rrf_fusion",
    "ext_92_rolling_wau",
    "ext_93_ngram_novelty",
    "ext_94_cross_source_leak",
    "ext_95_interevent_gaps",
    "tierc_tsql_funcs2",
    "ext_96_weighted_median",
    "ext_97_spearman",
    "ext_98_embedding_covariance",
    "ext_100_ttl_dedup",
    "tierc_tsql_funcs3",
    "tierc_promo_qty_suppliers",
    "tierc_value_concentration",
    "tierc_same_year_revenue",
    "ext_102_weighted_interp",
    "ext_104_grouped_ols",
    "ext_106_dsir_selection",
    "ext_107_ewma",
    "ext_108_jl_projection",
    "ext_109_zorder",
    "ext_112_changepoint",
    "ext_113_weighted_sample",
    "ext_114_sequence_packing",
    "ext_115_source_kl",
    "ext_116_leakage_safe_folds",
    "tierc_sql_udf",
    "tierc_variant_props",
    "tierc_tsql_funcs5",
    "tierc_recursive_spine",
    "tierc_pivot_sql",
    "ext_117_incremental_lsh",
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
    "ext_129_lexical_diversity",
    "ext_130_welch_ttest",
    "ext_131_autocorr",
    "ext_132_clustering",
    "ext_133_kmeans",
    "ext_135_trailing_window",
    "tierc_qualify",
    "tierc_qualify_cte",
    "tierc_cross_apply",
    "tierc_outer_apply",
    "tierc_tsql_funcs6",
    "tierc_tsql_funcs7",
    "tierc_groupby_all",
    "tierc_unpivot_sql",
    "ext_137_auc",
    "ext_139_resample",
    "tierc_asof_sql",
    "ext_140_retention",
    "ext_141_funnel",
    "ext_142_incremental_join",
    "ext_02_minhash_lsh",
    "ext_143_epoch_shuffle",
    "ext_03_ann_lsh",
    "ext_03_ann_ivf",
    "ext_144_hll_union",
    "ext_16_heavy_hitters",
    "ext_146_incremental_ndv",
    "tierc_qualify_subquery",
    "tierc_qualify_setop",
    "ext_69_bpe_merges",
    "ext_148_connected_components",
    "ext_149_bm25",
    "ext_150_ctfidf",
    "ext_151_pq_adc",
    "ext_152_matryoshka",
    "ext_153_csv_source",
    "ext_154_orc_source",
    "ext_155_stream_upsert",
    "ext_156_incremental_topk",
    "ext_157_partitioned_scan",
    "ext_158_bucketed_join",
    "ext_159_ivfadc",
    "ext_160_stream_topk_ivm",
    "ext_161_zorder_skipping",
    "ext_162_pca_whitening",
    "ext_163_ivf_maintenance",
    "ext_164_quantile_bands",
    "ext_165_ivfadc_add",
    "ext_166_cdc_ranked_view",
    "ext_167_unigram_lm",
    "ext_168_unigram_encode",
]


def plan_text(df) -> str:
    """Formatted logical→physical plan + the POST-EXECUTION adaptive
    plan (AQE finalizes joins/codegen only once the query runs)."""
    df.collect()  # finalize AQE on the df's own QueryExecution
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    final = df._jdf.queryExecution().executedPlan().toString()
    return buf.getvalue() + "\n--- executed (AQE final, codegen-annotated) ---\n" + final


def audit(name: str, text: str) -> list[str]:
    problems: list[str] = []
    if ("CartesianProduct" in text or "BroadcastNestedLoopJoin" in text) and (
        name not in QUADRATIC_OK and name not in BROADCAST_SCALAR_OK
    ):
        problems.append("unexpected nested-loop/cartesian join")
    # percentile()'s aggregation buffer holds the whole column per
    # group — replaced repo-wide (r6/r7, no exemptions) by the bounded
    # MSD radix selection; ANY reappearance is a regression
    if re.search(r"ObjectHashAggregate[^\n]*percentile", text):
        problems.append(
            "percentile ObjectHashAggregate (unbounded per-group buffer)"
        )
    # codegen stages render as "WholeStageCodegen (N)" in formatted
    # explain and as "*(N)" prefixes in the executed-plan string
    if "WholeStageCodegen" not in text and "*(" not in text:
        problems.append("no WholeStageCodegen span (interpreted path?)")
    # every parquet scan should carry a pruned ReadSchema. Count
    # name:type pairs (not commas — decimal(p,s) etc. contain commas)
    # and skip explain-truncated schemas ("...").
    for m in re.finditer(r"ReadSchema: struct<([^>\n]*)>", text):
        body = m.group(1)
        if "..." in body:
            continue
        ncols = len(re.findall(r"\w+:", body))
        if ncols > 12:
            problems.append(f"scan reads {ncols} columns — pruning suspect")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    import __spark_entry__ as entrymod
    from sparketl.session import get_spark

    spark = get_spark("plan-audit")
    qs = entrymod.queries()

    sections: list[str] = []
    failures: list[str] = []
    for name in AUDITED:
        df = qs[name](spark, sf_dir)
        text = plan_text(df)
        problems = audit(name, text)
        status = "OK" if not problems else "; ".join(problems)
        print(f"{name}: {status}")
        if problems:
            failures.append(f"{name}: {status}")
        sections.append(
            f"## {name}\n\n- audit: **{status}**\n\n```\n{text.strip()}\n```\n"
        )

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit of the headline queries\n\n"
            f"Generated by `tools/plan_audit.py` at `{sf_dir}`. Checks: column-pruned\n"
            "ReadSchema, pushed filters, broadcast dimension joins, no unexpected\n"
            "nested-loop joins, WholeStageCodegen coverage.\n\n" + "\n".join(sections)
        )
    print(f"\n{len(AUDITED) - len(failures)} OK, {len(failures)} flagged")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
