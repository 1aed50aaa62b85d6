"""Per-layer metrics and the per-layer table of a traced run.

Conventions: ``<layer>.<call>_s`` is the mean wall time of one call
(inclusive of what it calls), ``<layer>.<call>_calls`` the calls per
timed op, and ``spark.*`` counts are means per timed op. A metric whose
call never happens in a workload reads 0 there.
"""

from __future__ import annotations

import statistics

from perfbench import streams
from perfbench.trace import covered_seconds

S, N, B, R, MS = "s", "count", "B", "ratio", "ms"

_CALL_S = [
    "session.get_spark", "io.load_tables", "dialect.transpile", "dialect.parse_merge",
    "engine.execute", "engine.preview",
    "ingest.ingest_append", "ingest.ingest_update", "ingest.validate_batch",
    "ingest.cast_to_schema",
    "tables.append", "tables.upsert", "tables.keyed_update", "tables.merge_execute",
    "tables.delete_where", "tables.compact", "tables.vacuum", "tables.read",
    "tables.candidate_files",
    "streaming.stage_event_chunks", "streaming.batch_apply",
]
_CALLS = ["io.load_tables", "dialect.transpile", "engine.execute"]
_ENTRIES = list(streams.STREAM_OPS)

PER_LAYER: list[tuple[str, str, str]] = (
    [(f"{c}_s", S, "lower") for c in _CALL_S]
    + [(f"{c}_calls", N, "lower") for c in _CALLS]
    + [
        ("engine.preview_tasks", N, "lower"),
        ("tables.jobs_per_commit", N, "lower"),
        ("tables.driver_share", R, "lower"),
        ("tables.files_pruned_ratio", R, "lower"),
        ("tables.data_files", N, "lower"),
        ("tables.bytes_written", B, "lower"),
        ("tables.manifest_bytes", B, "lower"),
        ("tables.write_amp", "B/B", "lower"),
        ("streaming.micro_batches", N, "lower"),
        ("streaming.jobs", N, "lower"),
        ("operators.build_s", S, "lower"),
        ("operators.materialize_s", S, "lower"),
    ]
    + [(f"operators.{e}_s", S, "lower") for e in _ENTRIES]
    + [
        ("spark.jobs", N, "lower"),
        ("spark.stages", N, "lower"),
        ("spark.tasks", N, "lower"),
        ("spark.analysis_ms", MS, "lower"),
        ("spark.optimization_ms", MS, "lower"),
        ("spark.planning_ms", MS, "lower"),
        ("spark.executor_run_s", S, "lower"),
        ("spark.driver_share", R, "lower"),
        ("spark.shuffle_bytes", B, "lower"),
        ("spark.scan_bytes", B, "lower"),
        ("spark.spill_bytes", B, "lower"),
        ("trace.overhead_ms", MS, "lower"),
        ("trace.residual_ms", MS, "lower"),
    ]
)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _driver_share(ops: list[dict]) -> float:
    """Share of the ops' wall time during which no Spark job ran."""
    wall = sum(r["wall"] for r in ops)
    if not wall:
        return 0.0
    busy = sum(
        covered_seconds([(j["submit"], j["done"]) for j in r["jobs"]], r["epoch0"], r["epoch1"])
        for r in ops
    )
    return max(0.0, 1.0 - busy / wall)


def per_layer(workload, tracer) -> tuple[dict, list[tuple]]:
    """The per-layer metrics and the table rows (name, calls, self s,
    share of op wall) of one traced run."""
    spans = tracer.dump()
    timed = [r for r in workload.ops if "op_id" in r]
    by_op = {r["op_id"]: r for r in timed}
    setup_ops = {s["op"] for s in spans if s["parent"] is None and s["name"] == "setup"}
    op_spans = [s for s in spans if s["op"] in by_op]
    n_ops = max(1, len(timed))

    def durations(name, pool):
        return [s["end"] - s["start"] for s in pool if s["name"] == name]

    m: dict[str, float] = {}
    for c in _CALL_S:
        pool = [s for s in spans if s["op"] in setup_ops] if c == "session.get_spark" else op_spans
        m[f"{c}_s"] = _mean(durations(c, pool))
    for c in _CALLS:
        m[f"{c}_calls"] = len(durations(c, op_spans)) / n_ops

    # jobs attributed to the innermost span open at their submission
    offset = tracer.epoch_offset
    jobs = [(j, r) for r in timed for j in r["jobs"]]

    def jobs_in(name):
        hits = []
        for s in op_spans:
            if s["name"] != name:
                continue
            lo, hi = s["start"] + offset, s["end"] + offset
            hits += [j for j, r in jobs if r["op_id"] == s["op"] and lo <= j["submit"] <= hi]
        return hits

    previews = durations("engine.preview", op_spans)
    m["engine.preview_tasks"] = (
        sum(j["tasks"] for j in jobs_in("engine.preview")) / len(previews) if previews else 0.0
    )
    commits = [r for r in timed if r["kind"] in ("append", "update", "upsert", "merge", "delete", "compact")]
    m["tables.jobs_per_commit"] = _mean(len(r["jobs"]) for r in commits)
    m["tables.driver_share"] = _driver_share(commits)
    pruning = getattr(workload, "pruning", [])
    total_files = sum(f for _, f in pruning)
    m["tables.files_pruned_ratio"] = sum(c for c, _ in pruning) / total_files if total_files else 0.0
    table = getattr(workload, "table", None)
    m["tables.data_files"] = float(len(table.data_files())) if table is not None else 0.0
    m["tables.bytes_written"] = float(getattr(workload, "bytes_written", 0))
    m["tables.manifest_bytes"] = float(getattr(workload, "manifest_bytes", 0))
    user = getattr(workload, "user_bytes", 0)
    m["tables.write_amp"] = m["tables.bytes_written"] / user if user else 0.0
    streaming_ops = {s["op"] for s in op_spans if s["name"].startswith("streaming.")}
    m["streaming.micro_batches"] = float(len(durations("streaming.batch_apply", op_spans)))
    m["streaming.jobs"] = float(sum(len(r["jobs"]) for r in timed if r["op_id"] in streaming_ops))

    entry_ops = [r for r in timed if "entry" in r]
    builds = {s["op"]: s["end"] - s["start"] for s in op_spans if s["name"].startswith("operators.")}
    m["operators.build_s"] = _mean(builds[r["op_id"]] for r in entry_ops if r["op_id"] in builds)
    m["operators.materialize_s"] = _mean(
        r["wall"] - builds[r["op_id"]] for r in entry_ops if r["op_id"] in builds
    )
    for e in _ENTRIES:
        m[f"operators.{e}_s"] = _mean(r["wall"] for r in entry_ops if r["entry"] == e)

    all_jobs = [j for j, _ in jobs]
    for key in ("jobs", "stages", "tasks"):
        m[f"spark.{key}"] = (len(all_jobs) if key == "jobs" else sum(j[key] for j in all_jobs)) / n_ops
    for p in ("analysis", "optimization", "planning"):
        m[f"spark.{p}_ms"] = _mean(x[p] for x in workload.planning)
    m["spark.executor_run_s"] = sum(j["executor_run_s"] for j in all_jobs) / n_ops
    m["spark.driver_share"] = _driver_share(timed)
    for key in ("shuffle_bytes", "scan_bytes", "spill_bytes"):
        m[f"spark.{key}"] = sum(j[key] for j in all_jobs) / n_ops

    # per op: self times of its spans plus wrapper bookkeeping == wall
    residual = 0.0
    overhead = 0.0
    for op_id, r in by_op.items():
        mine = [s for s in op_spans if s["op"] == op_id]
        root = next(s for s in mine if s["parent"] is None)
        oh = sum(s["overhead"] for s in mine)
        overhead += oh
        residual = max(residual, abs(sum(s["self"] for s in mine) + oh - (root["end"] - root["start"])))
    m["trace.overhead_ms"] = 1000.0 * overhead / n_ops
    m["trace.residual_ms"] = 1000.0 * residual

    wall = sum(r["wall"] for r in timed) or 1.0
    rows: dict[str, list[float]] = {}
    for s in op_spans:
        key = "op (benchmark + unwrapped code)" if s["parent"] is None else s["name"]
        row = rows.setdefault(key, [0, 0.0])
        row[0] += 1
        row[1] += s["self"]
    rows["trace overhead"] = [0, overhead]
    table_rows = sorted(
        ((k, c, t, t / wall) for k, (c, t) in rows.items()), key=lambda x: -x[2]
    )
    return m, table_rows


def format_table(workload_name: str, rows: list[tuple], e2e: dict) -> str:
    out = [f"per-layer self time, {workload_name} (traced run)"]
    out.append(f"  {'span':<44} {'calls':>6} {'self_s':>9} {'share':>7}")
    for name, calls, self_s, share in rows:
        out.append(f"  {name:<44} {calls:>6} {self_s:>9.3f} {100 * share:>6.1f}%")
    out.append("  traced end-to-end: " + ", ".join(f"{k}={v:.4f}" for k, v in e2e.items()))
    return "\n".join(out)


def tail(values: list[float]) -> tuple[str, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (label, value, sample count); p50 when the sample is too small."""
    n = len(values)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return f"p{p}", statistics.quantiles(values, n=100)[p - 1], n
    return "p50", statistics.median(values) if values else 0.0, n
