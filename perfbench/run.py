"""Benchmark runner: one workload per invocation, or all of them.

    python3 perfbench/run.py --workload sql_session --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 10

A run pins its environment, builds (once per checkout) the synthetic
sf0.1 fixtures and the DuckDB oracle fingerprints of every entry it
runs, sets up the workload three times, measures it for ``--seconds``,
checks every output, and prints one JSON object as its last line: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. ``--all`` runs every workload untraced and traced and
prints the end-to-end metrics, the per-layer tables and the tracing
overhead (traced minus untraced).

Everything the run writes stays under ``perfbench/.work``: the build
cache, the run's scratch (``TMPDIR``, ``SPARK_LOCAL_DIRS``, table roots;
wiped before and after every run) and the reports and span dumps.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
CACHE = os.path.join(WORK, "cache")
RUN_DIR = os.path.join(WORK, "run")
REPORTS = os.path.join(WORK, "reports")
DRIVER_MEM = "4g"
REQUIRED = ("__spark_entry__.py", "sparketl/__init__.py", "tools/verify_oracle.py")
WORKLOAD_NAMES = ("sql_session", "table_cdc")


def pin_environment() -> dict:
    """Environment every run gets, set before Spark or tempfile start."""
    import tempfile

    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARKETL_DRIVER_MEM": DRIVER_MEM,
        # Spark's Python workers import sparketl (mapInArrow writers)
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(RUN_DIR, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(RUN_DIR, "local"),
        "TZ": "UTC",
    }
    # every JVM the run starts (spark-submit's launcher too) keeps its
    # temp and perf-data files out of the system temp directory
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    os.environ.update(env)
    time.tzset()
    tempfile.tempdir = None
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    return env


def ensure_oracles(sf_dir: str, fixture_key: str, names: list[str]) -> dict:
    """DuckDB oracle fingerprints of ``names`` over the fixtures, cached
    per fixture set and oracle text."""
    import duckdb

    import __spark_entry__
    from perfbench.workloads import fingerprint
    from sparketl.io import TABLE_NAMES, table_path

    path = os.path.join(CACHE, f"oracles-{fixture_key}.json")
    cache = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            cache = json.load(f)
    sqls = __spark_entry__.oracle_sql()
    con = None
    changed = False
    for name in names:
        digest = hashlib.sha256(sqls[name].encode()).hexdigest()[:16]
        if cache.get(name, {}).get("sql") == digest:
            continue
        if con is None:
            con = duckdb.connect()
            for t in TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
                )
        res = con.execute(sqls[name])
        cache[name] = {
            "sql": digest,
            "fp": fingerprint([d[0] for d in res.description], res.fetchall()),
        }
        changed = True
    if changed:
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {n: cache[n]["fp"] for n in names}


def build() -> tuple[str, dict]:
    """Fixtures plus the oracle fingerprints of every entry any
    workload runs (the first run in a checkout pays for this)."""
    from perfbench import fixtures, streams

    sf_dir = fixtures.ensure_fixtures(CACHE, fixtures.DATA_SEED)
    names = list(streams.SQL_QUERIES + streams.STREAM_OPS)
    return sf_dir, ensure_oracles(sf_dir, fixtures.fixture_key(fixtures.DATA_SEED), names)


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its JVM child, in MB."""
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    kb = hwm("self")
    me = os.getpid()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            if ppid == me:
                kb += hwm(d)
        except (OSError, ValueError, IndexError):
            continue
    return kb / 1024.0


def run_one(args) -> int:
    from perfbench import report
    from perfbench.workloads import WORKLOADS, median, wipe

    env = pin_environment()
    phases = {"start": time.monotonic()}
    sf_dir, oracles = build()
    phases["build"] = time.monotonic()
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer, install_program_wrappers

        tracer = Tracer()
        install_program_wrappers(tracer)
    w = WORKLOADS[args.workload](sf_dir, RUN_DIR, args.seed, oracles, tracer)
    try:
        w.run_setups()
        phases["setups"] = time.monotonic()
        w.warm_up()
        phases["warm_up"] = time.monotonic()
        w.run(time.monotonic() + args.seconds)
        phases["measure"] = time.monotonic()
        w.final_checks()
        phases["final_checks"] = time.monotonic()
        e2e = w.end_to_end()
        rss_mb = peak_rss_mb()
        layers, rows = report.per_layer(w, tracer) if tracer else ({}, [])
    finally:
        w.close()
        if tracer:
            tracer.uninstall()
    phases["close"] = time.monotonic()
    failed = sum(1 for r in w.ops if not r["ok"])
    attempted = len(w.ops)

    print(f"{w.name} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cpus={env['SPARK_GRAFT_CPUS']} driver_mem={env['SPARKETL_DRIVER_MEM']}")
    for k, v in e2e.items():
        print(f"  {k:<14} {v:12.4f} s")
    print(f"  {'peak_rss_mb':<14} {rss_mb:12.4f} MB")
    main = w.main_latencies()
    label, value, n = report.tail(main)
    print(f"  ops: {attempted} attempted, {failed} failed, error_rate={failed / max(1, attempted):.4f}")
    print(f"  main op over {n} samples: p50={median(main):.4f} s, tail {label}={value:.4f} s; "
          f"read p50={median(w.read_latencies()):.4f} s")
    kinds = sorted({r["kind"] for r in w.ops} - {"check"})
    print("  median by kind: " + ", ".join(
        f"{k}={median([r['wall'] for r in w.ops if r['kind'] == k]):.3f}s" for k in kinds))
    marks = list(phases.items())
    print("  phase wall: " + ", ".join(
        f"{k}={t - marks[i][1]:.1f}s" for i, (k, t) in enumerate(marks[1:])))
    if tracer:
        print(report.format_table(w.name, rows, e2e))

    os.makedirs(REPORTS, exist_ok=True)
    stem = os.path.join(REPORTS, f"{w.name}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump({"env": env, "end_to_end": e2e, "peak_rss_mb": rss_mb, "per_layer": layers,
                   "ops": [{k: v for k, v in r.items() if k != "jobs"} for r in w.ops]},
                  f, indent=1)
    if tracer:
        with open(stem + "-spans.json", "w", encoding="utf-8") as f:
            json.dump(tracer.dump(), f)
    wipe(RUN_DIR)

    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u, _ in report.PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def run_all(args) -> int:
    """Every workload, untraced then traced, in child processes."""
    status = 0
    results = {}
    for name in WORKLOAD_NAMES:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            out = proc.stdout.strip().splitlines()
            print("\n".join(out[:-1]))
            if proc.returncode != 0 or not out:
                print(proc.stderr[-4000:], file=sys.stderr)
                status = 1
                continue
            with open(os.path.join(REPORTS, f"{name}-seed{args.seed}-trace{trace}.json"),
                      encoding="utf-8") as f:
                results[name, trace] = json.load(f)["end_to_end"]
    print("\nend-to-end (untraced) and tracing overhead (traced - untraced)")
    for name in WORKLOAD_NAMES:
        if (name, 0) not in results or (name, 1) not in results:
            continue
        for k, v in results[name, 0].items():
            d = results[name, 1][k] - v
            print(f"  {name:<16} {k:<12} {v:10.4f}   overhead {d:+.4f}")
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    if args.all:
        return run_all(args)
    if not args.workload:
        ap.error("--workload or --all is required")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import wipe

    wipe(RUN_DIR)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
