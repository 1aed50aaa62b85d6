"""Isolated per-query timing + plan capture for optimization work.

Usage: python tools/isotime.py [--plans DIR] [--suffix S] [--reps N] q1 q2 ...

One warmed sparketl session; per query: noop-sink timings (median of N,
default 3) with an interleaved anchor, plus `.explain("formatted")` of the
(collected) final frame written to DIR/<query>_<suffix>.txt when --plans is
given. Prints one JSON line per query so before/after numbers are
copy-pasteable into OPTIMIZATION_r14.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    args = sys.argv[1:]
    plans_dir = None
    suffix = "before"
    reps = 3
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        del args[i : i + 2]
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        del args[i : i + 2]
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    names = args

    import bench
    import __spark_entry__ as entrymod
    from sparketl.session import get_spark

    spark = get_spark("sparketl-isotime")
    qs = entrymod.queries()

    def anchor() -> float:
        t0 = time.monotonic()
        bench._anchor_job(spark)
        return time.monotonic() - t0

    # warm the JVM/codegen paths once
    anchor()

    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(json.dumps({"query": name, "error": "not in queries()"}))
            continue
        durs = []
        anchors = []
        for _ in range(reps):
            anchors.append(anchor())
            spark.sparkContext.setJobDescription(f"isotime: {name}")
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            durs.append(time.monotonic() - t0)
            spark.sparkContext.setJobDescription(None)
        if plans_dir and suffix != "none":
            os.makedirs(plans_dir, exist_ok=True)
            df = fn(spark, SF_DIR)
            df.collect()  # finalize AQE so the plan is the executed one
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(
                os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)
        s = sorted(durs)
        med = s[len(s) // 2] if len(s) % 2 else (s[len(s) // 2 - 1] + s[len(s) // 2]) / 2
        sa = sorted(anchors)
        meda = sa[len(sa) // 2] if len(sa) % 2 else (sa[len(sa) // 2 - 1] + sa[len(sa) // 2]) / 2
        print(
            json.dumps(
                {
                    "query": name,
                    "median_sec": round(med, 3),
                    "all_sec": [round(d, 3) for d in durs],
                    "anchor_median_sec": round(meda, 3),
                    "anchored": round(med / meda, 2) if meda > 0 else None,
                }
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
