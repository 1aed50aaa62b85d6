"""Benchmark harness — one JSON line on stdout.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query is forced to full materialization via the noop sink (no
driver collect — measures the distributed plan, not toPandas).

Since r11 the record carries a calibration anchor: a FIXED
scan→broadcast-join→decimal-agg→window job timed (median of 3) before
(``anchor_sec``) and after (``anchor_post_sec``) the suite. Since r12
the anchor also INTERLEAVES every ~20 query slots (``anchor_series``)
and every sample normalizes by its nearest-in-time anchor —
``anchored_top10`` is the median of those ratios, immune to mid-suite
load spikes the bracketing anchors cannot see. Since r13 the scaling
slopes use the SAME nearest-anchor device (r12's one-anchor-per-round
division missed spikes landing after the round's anchor and
manufactured a phantom flag in the artifact of record), the anchored
slope is the ONLY flag criterion (raw slopes are a reported
diagnostic), and the compact driver-parsed line carries the full
``anchor_series`` so normalization quality is auditable per round.
Cross-round comparisons should read the anchored ratios — an anchor
move means the sandbox moved, not the code.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_DIR)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the flagship agg, the heaviest joins/windows, and the
# LLM-pipeline operators (dedup, similarity, text, sessionization).
HEADLINE = [
    "flagship_pricing_summary",
    "join_03_star",
    "join_02_left",
    "agg_04_having",
    "window_rank",
    "fn_01_year_month",
    "tierc_sql_passthrough",
    "ext_02_minhash_lsh",
    "ext_02_simhash",
    "ext_03_cosine_topk",
    "ext_04_quality",
    "ext_04_fingerprint",
    "ext_05_json_extract",
    "ext_06_sessionize",
    "ext_07_asof_join",
    "ext_07_range_join",
    "agg_06_pivot",
    "tierc_scalar_subquery",
    "ext_03_ann_ivf",
    "ext_10_tfidf_topk",
    "ext_11_rolling_7d",
    "ext_12_decontaminate",
    "ext_14_passage_dedup",
    "ext_15_chunk_stats",
    "ext_17_quantize",
    "ext_34_trigram_lm",
    "ext_39_bloom_join",
    "ext_41_pagerank",
    "ext_42_window_suite",
    "ext_43_moment_stats",
    "ext_44_exact_percentiles",
    "tierc_volume_customers",
    "ext_48_lm_score",
    "ext_52_prefix_jaccard",
    "ext_53_hopping_window",
    "ext_49_rfm",
    "tierc_waiting_orders",
    "ext_58_vocab_coverage",
    "ext_59_quality_buckets",
    "ext_60_embedding_outliers",
    "ext_62_source_cap",
    "ext_63_curation_funnel",
    "ext_64_dataset_card",
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
    "ext_96_weighted_median",
    "ext_97_spearman",
    "ext_98_embedding_covariance",
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
    "ext_143_epoch_shuffle",
    "ext_144_hll_union",
    "ext_16_heavy_hitters",
    "ext_146_incremental_ndv",
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
    "ext_164_quantile_bands",
    "ext_163_ivf_maintenance",
    "ext_162_pca_whitening",
    "ext_165_ivfadc_add",
    "ext_166_cdc_ranked_view",
]


def _top_level_groups(seg: str) -> list[str]:
    """Top-level ``[...]`` groups of a plan-node argument string
    (expression lists contain nested brackets, so plain splitting on
    '], [' miscounts)."""
    groups, depth, start = [], 0, None
    for i, c in enumerate(seg):
        if c == "[":
            if depth == 0:
                start = i
            depth += 1
        elif c == "]":
            depth -= 1
            if depth == 0 and start is not None:
                groups.append(seg[start : i + 1])
                start = None
    return groups


def count_unpartitioned_windows(df) -> int:
    """Physical Window nodes with an EMPTY partition spec — exactly the
    condition that logs 'WindowExec: No Partition Defined' and moves
    the whole input to one task. Spark prints such nodes as
    ``Window [exprs], [orderSpec]`` (two top-level groups) vs the
    partitioned ``Window [exprs], [partSpec], [orderSpec]`` (three).
    Inspecting the plan instead of scraping executor logs makes the
    check deterministic and per-query attributable."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = 0
    for line in plan.splitlines():
        idx = line.find("Window [")
        if idx < 0:
            continue
        if len(_top_level_groups(line[idx:])) == 2:
            n += 1
    return n


def _anchor_job(spark) -> None:
    """Fixed calibration workload (r11, judge task 3): one
    scan → broadcast-join → decimal-agg shuffle → partitioned-window
    pass over lineitem at the bench SF. DO NOT CHANGE THIS JOB —
    cross-round comparability depends on it staying byte-identical.
    The bench times it (median of 3) before and after the suite and
    reports ``anchor_sec``/``anchor_post_sec``: when a round's anchor
    moves, the whole sandbox moved (load, JVM, page cache) and
    per-query drift in that round is environmental; when the anchor is
    steady and a query moved, the regression is real. The post-suite
    anchor additionally measures suite-state drag (heap/block
    accumulation) on a fixed workload."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    n = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    (
        li.select("l_suppkey", "l_extendedprice")
        .join(F.broadcast(n), li.l_suppkey % 25 == n.n_nationkey)
        .groupBy("l_suppkey", "n_name")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("n_name").orderBy(F.desc("rev"), "l_suppkey")
            ),
        )
        .filter("rk <= 10")
        .write.mode("overwrite")
        .format("noop")
        .save()
    )


def main() -> None:
    import __spark_entry__ as entrymod
    from sparketl.session import get_spark

    spark = get_spark("sparketl-bench")
    qs = entrymod.queries()

    # Warm the JVM once: parquet footers + the codegen/shuffle paths the
    # headline queries share (decimal aggregate, broadcast join, window).
    # Standard warm-run practice — none of the timed queries themselves
    # are pre-executed.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    n = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    (
        li.limit(50_000)
        .join(F.broadcast(n), li.l_suppkey % 25 == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("s"))
        .withColumn("r", F.row_number().over(W.partitionBy().orderBy("n_name")))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )

    # Calibration anchor (r11): median of 3 runs of the fixed job,
    # taken right after warmup — the pre-suite baseline.
    anchor_pre: list[float] = []
    for _ in range(3):
        t0 = time.monotonic()
        _anchor_job(spark)
        anchor_pre.append(time.monotonic() - t0)

    # Median of 3 interleaved rounds per query: single-run totals vary
    # ±30% under load, which makes round-over-round comparisons (and a
    # 2× regression gate) noise-prone. Interleaving spreads transient
    # machine load across all queries instead of one.
    n_rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))
    samples: dict[str, list[tuple[float, float]]] = {}
    global_windows: dict[str, int] = {}
    # r12 (judge task 2a, the verdict's own alternative): the pre/post
    # anchors bracket the suite but cannot see a MID-suite sandbox
    # spike (r12 observed one: ext_69 27 s in-suite vs 3.3 s isolated
    # while both bracketing anchors looked sane). Interleave the fixed
    # anchor job every ~20 query slots and normalize each sample by
    # the NEAREST-in-time anchor — a load spike then inflates numerator
    # and denominator together and cancels in the ratio.
    anchor_series: list[tuple[float, float]] = list(
        zip([time.monotonic()] * len(anchor_pre), anchor_pre)
    )
    _slot = [0]

    def _maybe_anchor() -> None:
        _slot[0] += 1
        if _slot[0] % 20 == 0:
            t0 = time.monotonic()
            _anchor_job(spark)
            anchor_series.append((t0, time.monotonic() - t0))

    def _anchor_at(t: float) -> float:
        return min(anchor_series, key=lambda a: abs(a[0] - t))[1]

    def _sample(name: str, rnd: int) -> None:
        fn = qs.get(name)
        if fn is None:
            return
        _maybe_anchor()
        t0 = time.monotonic()
        df = fn(spark, SF_DIR)
        df.write.mode("overwrite").format("noop").save()
        samples.setdefault(name, []).append((t0, time.monotonic() - t0))
        if rnd == 0:
            n_gw = count_unpartitioned_windows(df)
            if n_gw:
                global_windows[name] = n_gw

    for rnd in range(n_rounds):
        for name in HEADLINE:
            _sample(name, rnd)
    if global_windows:
        # any WindowExec 'No Partition Defined' warning in this run's
        # tail belongs to one of these queries — nothing else can emit
        # it, so a new unbounded global window can't hide
        print(
            f"bench: unpartitioned Window nodes by query: {global_windows}",
            file=sys.stderr,
        )

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    def _durs(xs: list[tuple[float, float]]) -> list[float]:
        return [d for _, d in xs]

    # Sub-second queries sit at the scheduling-noise floor where a
    # median of 3 still drifts 1.3-1.6× round-over-round; give them
    # extra interleaved rounds so their medians come from ≥5 samples.
    extra_rounds = int(os.environ.get("SPARK_GRAFT_BENCH_SUBSEC_ROUNDS", "2"))
    subsec = [n for n, xs in samples.items() if median(_durs(xs)) < 1.0]
    for rnd in range(extra_rounds):
        for name in subsec:
            _sample(name, n_rounds + rnd)

    timings = {name: round(median(_durs(xs)), 3) for name, xs in samples.items()}
    total = round(sum(timings.values()), 3)
    # anchor-normalized medians: each sample ÷ its nearest-in-time
    # interleaved anchor — the load-spike-immune per-query cost.
    # Cross-round comparisons should read THESE (in anchor units).
    anchored = {
        name: round(median([d / _anchor_at(t) for t, d in xs]), 2)
        for name, xs in samples.items()
    }

    # Post-suite anchor re-run: same fixed job after the full suite —
    # the pre/post delta is suite-state drag on a constant workload.
    anchor_post: list[float] = []
    for _ in range(3):
        t0 = time.monotonic()
        _anchor_job(spark)
        anchor_post.append(time.monotonic() - t0)
    anchor_sec = round(median(anchor_pre), 3)
    anchor_post_sec = round(median(anchor_post), 3)

    # r10 (judge task 5): LIVE sf0.01 → SF_DIR scaling slopes for the
    # top-10 most expensive headline queries — generalizing r9's
    # radix-only static note and the cheapest stand-in for the 100×
    # scale audit the sandbox can't run. Slope > 3× for 10× data marks
    # a query as "above the overhead-dominated regime" (still
    # sub-linear until 10×; a slope > 10× would be the true
    # super-linear alarm) — the conservative 3× gate stays because any
    # flagged query needs a named cause or a fix next round. Slopes
    # well under 10× mean per-job overhead still dominates the linear
    # scan term at these SFs — the desired shape. (r11, advisor: the
    # flag label no longer says "super-linear" for the 3×–10× band.)
    # r12 (judge task 2b): the slope is now SYMMETRIC — both the
    # sf0.01 denominator AND the SF_DIR numerator are median-of-3
    # re-timings taken here, interleaved in the same post-suite window
    # (same sandbox load, same JVM state). The r11 asymmetry (quiet
    # denominator vs in-suite single-shot numerator) could manufacture
    # flags out of a 2.7× environment swing; the in-suite median is
    # still reported in `queries` — the slope just no longer mixes the
    # two measurement conditions.
    # r13 (judge task 2): the flag criterion is now the NEAREST-anchor
    # normalized slope. r12's one-anchor-per-round division looked
    # anchored but wasn't spike-proof: a sandbox spike landing AFTER
    # the round's single anchor run inflated only the query samples,
    # and that run's artifact-of-record flagged ext_85 (10.8 anchored
    # vs 3.4-4.2 s isolated across r10-r12) on a suite whose own
    # anchor swung 3.04->0.81 s. The slope block now interleaves the
    # fixed anchor job every few query slots — the same device the
    # main suite uses — and every sample divides by its nearest-in-time
    # anchor, so a spike inflates numerator and denominator together.
    # The RAW slope stays in the note as a diagnostic; only the
    # anchored slope can flag.
    slope_note: dict[str, str] = {}
    slope_flags: list[str] = []
    raw_slope_flags: list[str] = []
    top10: list[str] = []
    small_samples: dict[str, list[tuple[float, float]]] = {}
    requiet_samples: dict[str, list[tuple[float, float]]] = {}
    small_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    if os.path.isdir(small_dir) and os.path.abspath(small_dir) != os.path.abspath(
        SF_DIR
    ):
        top10 = [n for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:10]]
        _slope_slot = [0]

        def _slope_anchor(force: bool = False) -> None:
            # every 4 query slots (each slot = one sf0.01 + one SF_DIR
            # timing) keeps the nearest anchor within ~30 s of every
            # sample at ~3% added wall-clock
            if force or _slope_slot[0] % 4 == 0:
                t0 = time.monotonic()
                _anchor_job(spark)
                anchor_series.append((t0, time.monotonic() - t0))
            _slope_slot[0] += 1

        for _rnd in range(3):
            _slope_anchor(force=True)
            for name in top10:
                fn = qs.get(name)
                if fn is None:
                    continue
                _slope_anchor()
                t0 = time.monotonic()
                fn(spark, small_dir).write.mode("overwrite").format("noop").save()
                small_samples.setdefault(name, []).append(
                    (t0, time.monotonic() - t0)
                )
                t0 = time.monotonic()
                fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
                requiet_samples.setdefault(name, []).append(
                    (t0, time.monotonic() - t0)
                )
        for name in top10:
            if name not in small_samples:
                continue
            lo = median([d / _anchor_at(t) for t, d in small_samples[name]])
            hi = median([d / _anchor_at(t) for t, d in requiet_samples[name]])
            raw_lo = median(_durs(small_samples[name]))
            raw_hi = median(_durs(requiet_samples[name]))
            slope = hi / lo if lo > 0 else float("inf")
            raw_slope = raw_hi / raw_lo if raw_lo > 0 else float("inf")
            suite_hi = timings[name]
            slope_note[name] = (
                f"{round(lo, 2)}->{round(hi, 2)} anchor-units "
                f"({round(slope, 1)}x anchored for 10x data; raw "
                f"{round(raw_lo, 2)}->{round(raw_hi, 2)}s = "
                f"{round(raw_slope, 1)}x, diagnostic only; in-suite "
                f"median {round(suite_hi, 2)}s, anchored {anchored.get(name)})"
            )
            if slope > 3.0:
                slope_flags.append(name)
            if raw_slope > 3.0:
                raw_slope_flags.append(name)

    # r14 (judge task 6): isolated re-times for the 5 largest raw
    # in-suite outliers, read straight off the slope block's
    # post-suite SYMMETRIC re-timing (median-of-3, nearest-anchor
    # normalized — the same samples, no extra runs). The artifact of
    # record now self-labels environment spikes: an in-suite median
    # >= 2x its isolated twin is sandbox load, not code (r13's 26.9 s
    # ext_85 vs 4.6 s isolated needed a judge re-time to prove that).
    isolated_top5: dict[str, dict] = {}
    env_flags: list[str] = []
    for name in top10[:5]:
        if name not in requiet_samples:
            continue
        iso_raw = median(_durs(requiet_samples[name]))
        iso_anch = median(
            [d / _anchor_at(t) for t, d in requiet_samples[name]]
        )
        env = iso_raw > 0 and timings[name] >= 2.0 * iso_raw
        isolated_top5[name] = {
            "sec": round(iso_raw, 2),
            "anchored": round(iso_anch, 2),
            "in_suite_sec": round(timings[name], 2),
            "environment_spike": env,
        }
        if env:
            env_flags.append(name)

    # r14 (judge task 7): cross-round anchored regression guard — any
    # query whose anchored median moved >2x vs the previous round's
    # artifact gets flagged WITH a named cause: a code change (its
    # FULLSWEEP stamp moved), an environment spike (the isolated
    # re-time above sits within 2x of the previous round), or
    # "unexplained" (a real regression to investigate).
    rr_flags: dict[str, str] = {}
    rr_causes: dict[str, str] = {}  # structured cause per flag (r15)
    prev_named: list[str] = []  # previous round's compact-line named set
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    try:
        import glob as _glob
        import re as _re

        benches = {}
        for p in _glob.glob(os.path.join(REPO_DIR, "BENCH_r*.json")):
            m = _re.search(r"BENCH_r(\d+)\.json$", p)
            if m:
                benches[int(m.group(1))] = p
        if benches:
            prev_round = max(benches)
            with open(benches[prev_round]) as fh:
                prev = json.load(fh)
            parsed = prev.get("parsed") or {}
            # r15 (r14 verdict task 2): remember the previous round's
            # NAMED query set — the compact line below names the union
            # of this round's top-N and these, so a query that improved
            # out of the top-N can never parse as "dropped_from_bench"
            prev_named = [
                n for n in (parsed.get("queries") or {}) if n in HEADLINE
            ]
            # only compare like-for-like scale factors
            prev_anch = (
                (parsed.get("anchored_top10") or {})
                if parsed.get("sf") == sf_val
                else {}
            )
            prev_stamps = {}
            sweep_path = os.path.join(
                REPO_DIR, f"FULLSWEEP_r{prev_round}.json"
            )
            if os.path.exists(sweep_path):
                with open(sweep_path) as fh:
                    prev_stamps = {
                        k: v.get("stamp")
                        for k, v in json.load(fh).get("sweep", {}).items()
                    }
            oracles = entrymod.oracle_sql()
            for name, pa in prev_anch.items():
                ca = anchored.get(name)
                if ca is None or pa <= 0 or ca <= 0:
                    continue
                ratio = max(ca / pa, pa / ca)
                if ratio <= 2.0:
                    continue
                causes = []
                try:
                    from tools.full_sweep import entry_stamp as _stamp

                    live = _stamp(qs[name], oracles.get(name))
                    if prev_stamps.get(name) and live != prev_stamps[name]:
                        causes.append(
                            f"code changed (stamp {prev_stamps[name][:8]}"
                            f"->{live[:8]})"
                        )
                except Exception:  # noqa: BLE001 — stamp is best-effort
                    pass
                if name in isolated_top5:
                    iso = isolated_top5[name]["anchored"]
                    if iso > 0 and max(iso / pa, pa / iso) <= 2.0:
                        causes.append(
                            f"environment (isolated re-time {iso} "
                            f"anchor-units within 2x of r{prev_round}'s "
                            f"{pa})"
                        )
                if not causes:
                    causes.append("unexplained — investigate")
                # structured cause (r14 advisor): derived from the
                # causes LIST, not substring-matched off the message
                rr_causes[name] = (
                    "code"
                    if any(c.startswith("code changed") for c in causes)
                    else "env"
                    if any(c.startswith("environment") for c in causes)
                    else "unexplained"
                )
                rr_flags[name] = (
                    f"r{prev_round} {pa} -> {ca} anchored "
                    f"({round(ratio, 1)}x); " + "; ".join(causes)
                )
    except Exception as exc:  # noqa: BLE001 — the guard must not kill bench
        rr_flags["_error"] = f"guard failed: {exc}"
        rr_causes["_error"] = "error"
    # Verbose record first (full named timings + prose notes) for
    # anyone reading complete stdout; the driver's ~2 KB tail capture
    # only retains the LAST line, so a compact line follows.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "cpus": int(os.environ["SPARK_GRAFT_CPUS"])
                if os.environ.get("SPARK_GRAFT_CPUS")
                else None,
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "anchor_sec": anchor_sec,
                "anchor_post_sec": anchor_post_sec,
                # nearest-interleaved-anchor-normalized medians (r12):
                # load-spike-immune; THE cross-round comparison series
                "anchored_top10": {
                    n: anchored[n]
                    for n, _ in sorted(
                        timings.items(), key=lambda kv: -kv[1]
                    )[:10]
                },
                "anchor_series": [round(d, 3) for _, d in anchor_series],
                "global_window_queries": global_windows,
                "isolated_top5": isolated_top5,
                "environment_flags": env_flags,
                "round_over_round_flags": rr_flags,
                "notes": {
                    "isolated_top5": "r14 (judge task 6): post-suite median-of-3 re-times of the 5 largest raw in-suite outliers, nearest-anchor normalized (the slope block's symmetric samples). environment_spike=true marks an in-suite median >= 2x its isolated twin — sandbox load, not code; read `sec` as the query's honest cost",
                    "round_over_round_flags": "r14 (judge task 7): anchored medians vs the previous round's artifact; >2x movement is flagged with a named cause — code change (FULLSWEEP stamp moved), environment (isolated re-time within 2x of previous), or unexplained. Empty = no >2x anchored movement",
                    "calibration_anchor": "r11 (judge task 3): a FIXED scan->broadcast-join->decimal-agg->partitioned-window job is timed median-of-3 before (anchor_sec) and after (anchor_post_sec) the suite. r12 (judge task 2a): the anchor additionally INTERLEAVES every ~20 query slots (anchor_series) and each sample normalizes by its nearest-in-time anchor -> anchored_top10 is now the per-query median of those RATIOS, immune to mid-suite load spikes the bracketing anchors cannot see (observed r12: a mid-suite spike inflated ext_69 to 27s in-suite vs 3.3s isolated while both bracketing anchors looked sane). Compare rounds via anchored_top10; raw seconds stay in queries",
                    # r7: the r6 radix-quantile slowdowns were clawed
                    # back by the ADAPTIVE descent (finish pass once
                    # every bucket <= 2^16 rows), cum0 checkpointing,
                    # and phase fusion — same bounded-state plans,
                    # fewer sequential jobs
                    "ext_86_mad_outliers": "radix quantiles, adaptive descent (r7): 5.9->~3.7s; bounded-state by design",
                    "ext_85_decile_binning": "r10 (judge task 2, claw back the r9 1.28x drift): the descent's tiny target frames (ranks/join-backs/interpolation, all <= groups x targets rows) now broadcast instead of shuffle-joining — one selection drops ~20 -> ~14 jobs, ext_85 ~3.9 -> ~3.4s isolated (selection alone 3.4 -> 2.5s, faster than the pre-adaptive r8 shape measured head-to-head at 4.0s); checkpoint_base dropped (pruned one-column scan is cheaper to recompute than materialize). r11 reconciliation: suite-state drag RULED OUT by measurement (3.39s isolated ~= 3.29s after a 40-query suite slice ~= 3.83s post-GC, one session); the r10 official 5.4s vs 3.4s isolated gap is interleaved-bench + sandbox load — read this query's cost as its anchored ratio",
                    "ext_44_exact_percentiles": "radix quantiles, adaptive descent (r7): 2.4->~1.5s. r11 reconciliation (judge task 3): the r10 1.33x drift was NOT suite-state — measured isolated 1.65s vs 1.68s after a 40-query suite slice vs 1.99s post-System.gc() in one session (all ~equal within noise), while the fixed anchor job itself wobbled 0.67-0.91s (+-25% on constant code). Named cause: interleaved-bench conditions + sandbox load, now separable via anchor_sec",
                    "ext_49_rfm": "r7: percentile() buffer -> ONE phase-fused 3-column radix selection (12 thresholds, 4 passes); 0.8->~2.1s is the bounded-state trade, plan-audit now bans ALL percentile buffers",
                    "ext_132_clustering": "r8: first cut (supplier co-supply, bar 2) was a near-complete graph -> 23s; customer co-purchase with bar 4 keeps the graph sparse at every SF and localCheckpoint pins edges/degrees so three consumers share one pair-generation shuffle -> ~3.5s",
                    "ext_133_kmeans": "two unrolled Lloyd iterations as one declarative DAG (no driver collect); ~5s at sf0.1 is three passes over the 320k-cell frame with broadcast centroid joins",
                    "tierc_outer_apply": "the global_window_queries hit is the detector being conservative: the decorrelated lateral LIMIT 1 plans as row_number() partitioned by o_custkey (verified in the executed plan) — not a single-partition window",
                    "ext_139_resample": "r8: the forward-neighbor carry as a CURRENT..UNBOUNDED FOLLOWING first() made Spark re-aggregate the shrinking frame per row (O(n^2) per partition, 158s at sf0.1); rewritten as a reverse-ordered RUNNING last() -> ~1.3s, identical values",
                    "ext_82_lsh_dedup_pipeline": "r9: portable md5-h60 MinHash bought the FULL oracle at ~1.5x the r8 xxhash64 time (one md5 per shingle + 32 map-combinable mins); r10: the shingle pin is GONE — explode_outer admits no InferFiltersFromGenerate pushdown, so the transform evaluates once at full parallelism with no cache/checkpoint at all; verified set still localCheckpoint'd for dup_clusters' two-direction read",
                    "explode_outer_fix": "r10: exploding a COMPUTED array with explode() let Catalyst infer size>0 and push the whole array transform below the exchange into the single-task scan stage; explode_outer (identical rows on provably non-empty arrays) kills it — ext_93 4.6->1.3s, ext_12 4.4->0.74s isolated. NOTE r9's ext_12 0.87s was cross-invocation cache-warmed by the session-lifetime cache() the advisor flagged; r10 numbers are honest per-invocation costs AND faster",
                    "ext_117_incremental_lsh": "r9: same portability trade; both band tables + the verified drop set are localCheckpoint'd (2+ consumers each) -> ~4.5s warm, vs ~11s before the pins",
                    "ext_03_ann_ivf": "r9: integer-Lloyd coarse quantizer (full oracle) runs ~1.4x the old float trainer (exact bigint distance joins per round vs broadcast array dots); cells localCheckpoint'd so the normalize+explode pass runs once",
                    "ext_141_funnel": "the global_window_queries hit is the k-row step-summary frame (3 rows) taking a lag() — not a data-sized window",
                    "ext_148_connected_components": "r11 (new): large-star/small-star CC. First cut 8.3s warm: profiling showed execution was ~0.2s/round and the cost was Catalyst ANALYSIS — a per-shortcut-level union re-embedded the 2J-window-expression subtree into every branch (~8s of pure planning) plus 10 propagation rounds on diameter-2000 chains. Fixed by the single struct-array explode_outer + J=11 densification (4 rounds) + dropping large-star's redundant distinct -> ~4.2s in-suite; per-round work at cluster scale is |E|-sized shuffles, fixture cost is round scheduling",
                    "ext_151_pq_adc": "r11 (new): PQ+ADC, same integer-Lloyd family as ann_ivf (~5s) — cost is the fixed ~8-job training/encode/probe chain at fixture scale, not data; round-0 residue init folds into the first centroid aggregate (no synthetic assignment join)",
                    "ext_149_bm25": "r11 (new): map-only array-HOF tf + one-row stats broadcast; ~0.7s warm",
                    "ext_152_matryoshka": "r11 (new): one broadcast pair join, all truncation levels in one explode -> one window pass; ~1.1s warm",
                    "radix_scaling_slope": "r9 static note, superseded by the live scaling_slope_top10 below: per-pass JOB OVERHEAD dominates and the scan term is linear map-combinable work, vs the percentile() buffer whose EXECUTOR MEMORY grows linearly with group size (the 100 TB OOM the r6 swap removed)",
                    "ext_84_copurchase": "r12 (judge task 3): the r11 >3x slope flag was the ASYMMETRIC measurement, not the plan. Data shape measured at both SFs: pair volume Sigma C(basket,2) = 119,239 (sf0.01) -> 1,199,575 (sf0.1) - 10.06x for 10x data, exactly linear in orders (max basket 13->17, bounded by the data model); symmetric interleaved median-of-3 in one quiet session: 1.80 -> 3.49s = 1.93x slope, well inside the overhead-dominated regime. The basket-keyed pair join scales linearly as designed",
                    "ext_85_decile_binning_r12": "the r12 pre-normalization run flagged ext_85 again (4.67->16.7s requiet slope) in a suite whose sandbox was measurably degraded (anchor 1.56s pre vs r11's 0.67s post; a mid-suite spike put ext_69 at 27s in-suite vs 3.3s isolated, fresh session, same tree). Isolated fresh-session median at sf0.1: 4.2s - consistent with the r10/r11 3.4-3.9s isolated record. The r12 per-round anchor normalization exists precisely to stop this class of phantom flag; read the anchored slope",
                    "scaling_slope_method": "r13 (judge task 2): the FLAG criterion is the nearest-anchor-normalized slope. r12's one-anchor-per-round division was not spike-proof (a spike after the round's single anchor inflated only the query samples and flagged ext_85 at 10.8 anchored vs 3.4-4.2s isolated across r10-r12); the slope block now interleaves the fixed anchor job every ~4 query slots and each sample divides by its nearest-in-time anchor — the same device the main suite uses. The raw slope is reported per-entry as a diagnostic (raw_scaling_slope_flags) and cannot flag. Both sides remain SYMMETRIC median-of-3 re-timings in the same post-suite window (r12 task 2b). A slope of ~10x would be honest linearity; <3x means per-job overhead still dominates; the 3x gate marks the transition out of the overhead regime, and any flag still needs a named cause",
                    "scaling_slope_top10": slope_note,
                    "scaling_slope_flags": (
                        slope_flags
                        if slope_flags
                        else "none > 3x anchored for 10x data — job overhead still dominates every top-10 query; every slope deep in the overhead-dominated (sub-linear) regime"
                    ),
                    "raw_scaling_slope_flags": (
                        raw_slope_flags
                        if raw_slope_flags
                        else "none (diagnostic only — raw slopes cannot flag; divergence from the anchored flags measures sandbox noise, not plan behavior)"
                    ),
                },
            }
        )
    )
    # Tail-proof compact line (LAST on stdout, < ~1.9 KB so the
    # driver's tail capture parses it whole): the full per-query
    # timing vector rides as an array in HEADLINE order (zip with
    # bench.HEADLINE to recover names); the slowest queries keep
    # their full names inline for direct round-over-round reads.
    vector = [timings.get(name) for name in HEADLINE]
    # r14 measurement-artifact fix: the r14-build additions
    # (isolated_top5, round_over_round_flags) pushed the compact line
    # to ~2.2 KB, so the top_n halving loop bottomed out at 0 and the
    # driver-parsed line carried NO named slowest queries (and still
    # exceeded the ~1.9 KB tail cap). The flags now ride in compact
    # form (name -> "prev->cur xN.N" + a one-word cause) and, if the
    # line still overflows after top_n reaches 0, the anchor series
    # tail is elided — named query timings are the most valuable bytes
    # and are shed LAST, not first.
    def _rr_compact(terse: bool) -> dict:
        out = {}
        for name, msg in rr_flags.items():
            # cause from the structured map (r14 advisor: substring
            # matching mislabeled '_error' entries whose exception text
            # happened to contain 'environment'/'code changed')
            cause = rr_causes.get(name, "error")
            if name == "_error":
                out[name] = "error"  # fixed short token, never the text
                continue
            head = "" if terse else msg.split(" anchored", 1)[0] + " "
            out[name] = f"{head}{cause}"
        return out

    full_anchors = [round(d, 2) for _, d in anchor_series]
    iso_items = list(isolated_top5.items())
    # shedding ladder: each level trades the least-valuable bytes first;
    # named slowest-query timings (top_n) are shed LAST — they are the
    # line's whole point. (top_n, n_anchors, n_iso, timings_decimals,
    # terse_rr)
    levels = [
        (20, len(full_anchors), 5, 2, False),
        (10, len(full_anchors), 5, 2, False),
        (5, len(full_anchors), 5, 2, False),
        (5, 8, 5, 2, False),
        (5, 8, 3, 2, False),
        (5, 8, 3, 1, False),
        (5, 8, 3, 1, True),
        (5, 2, 3, 1, True),
        (4, 2, 2, 1, True),
        (3, 2, 1, 1, True),
        (2, 2, 0, 1, True),
        (1, 2, 0, 1, True),
        (0, 2, 0, 1, True),
    ]
    sc = spark.sparkContext
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    for top_n, n_anchors, n_iso, t_dec, terse in levels:
        elided = n_anchors < len(full_anchors)
        anchor_compact = (
            full_anchors
            if not elided
            # head + tail halves, middle elided (marker below — r14
            # advisor: a consumer could not tell a truncated series
            # from a full one and might misalign samples)
            else full_anchors[: n_anchors // 2] + full_anchors[-(n_anchors - n_anchors // 2):]
        )
        rr_compact = _rr_compact(terse)
        iso_compact = dict(iso_items[:n_iso])
        slowest = dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:top_n]
        )
        # r15 (r14 verdict task 2): always ALSO name the previous
        # round's named set — additions-only, so a query that improved
        # out of the top-N never parses as dropped_from_bench. These
        # ride at every shed level (they are the cross-round contract).
        for n in prev_named:
            if n in timings:
                slowest.setdefault(n, timings[n])
        compact = json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "sf": sf_val,
                # effective parallelism (r14 verdict task 2: the driver
                # could not prove $SPARK_GRAFT_CPUS took effect —
                # suspect_cpus_ignored; these fields carry the proof)
                "cpus": int(env_cpus) if env_cpus else None,
                "master": sc.master,
                "default_parallelism": sc.defaultParallelism,
                "anchor_sec": anchor_sec,
                "anchor_post_sec": anchor_post_sec,
                "anchored_top10": {
                    n: anchored[n]
                    for n, _ in sorted(
                        timings.items(), key=lambda kv: -kv[1]
                    )[:10]
                },
                # full interleaved anchor series (r13, judge task 8):
                # constant-job timings across the whole run, so
                # normalization quality is auditable from the artifact
                # of record without rerunning. 2-decimal precision in
                # the compact line: centisecond resolution is ample
                # for auditing a >=0.7 s job and buys back bytes for
                # named slowest-query slots under the ~1.9 KB cap
                "anchor_series": anchor_compact,
                "anchor_series_elided": elided,
                "scaling_slope_flags": slope_flags,
                # r14: [isolated sec, isolated anchored, in-suite sec]
                # per top-5 raw outlier; env flags name any in-suite
                # number >= 2x its isolated twin (sandbox, not code)
                "isolated_top5": {
                    n: [v["sec"], v["anchored"], v["in_suite_sec"]]
                    for n, v in iso_compact.items()
                },
                "environment_flags": env_flags,
                "round_over_round_flags": rr_compact,
                "n_queries": len(timings),
                "timings_order": "bench.HEADLINE",
                "timings": [
                    round(t, t_dec) if t is not None else None
                    for t in vector
                ],
            }
        )
        if len(compact) < 1900:
            break
    print(compact)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
