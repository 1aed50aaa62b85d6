"""Dump the physical plans of the two MERGE rewrite shapes.

Upserts one 2,000-row batch (half matched keys, half new) into a fresh
20,000-row ManagedTable twice: once as is, which takes the driver shape,
and once with ``tables._DRIVER_SOURCE_ROWS = 0``, which forces the
distributed shape. For each, the final (post-AQE) plan of the rewrite's
write job is read from Spark's SQL status store and written to
``plans/r<round>/merge_driver.txt`` and ``merge_distributed.txt``,
with the shuffle bytes the whole upsert wrote on the first line.

    python tools/merge_plans.py --round 16
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparketl import tables  # noqa: E402
from sparketl.session import get_spark  # noqa: E402

SCHEMA = "k long, v long, tag string"


def _executions(spark) -> list:
    seq = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [seq.apply(i) for i in range(seq.size())]


def _job_ids(spark) -> set:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def _shuffle_bytes(spark, job_ids) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    total = 0
    for jid in job_ids:
        it = store.job(jid).stageIds().iterator()
        while it.hasNext():
            total += store.lastStageAttempt(it.next()).shuffleWriteBytes()
    return total


def rewrite_plan(spark, root: str) -> tuple[str, int]:
    t = tables.ManagedTable(spark, root)
    t.create(spark.createDataFrame([], SCHEMA).schema)
    t.append(
        spark.createDataFrame(
            [(i, i, f"t{i % 7}") for i in range(20_000)], SCHEMA
        ).repartition(4)
    )
    batch = spark.createDataFrame(
        [(i, -i, "new") for i in range(19_000, 21_000)], SCHEMA
    ).coalesce(1)
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(10_000)
    seen = {e.executionId() for e in _executions(spark)}
    jobs_before = _job_ids(spark)
    t.upsert(batch, "k")
    sc.listenerBus().waitUntilEmpty(10_000)
    new = [e for e in _executions(spark) if e.executionId() not in seen]
    writes = [
        e.physicalPlanDescription()
        for e in new
        if "Join" in e.physicalPlanDescription()
        and "Scan parquet" in e.physicalPlanDescription()
    ]
    return writes[-1], _shuffle_bytes(spark, _job_ids(spark) - jobs_before)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True)
    args = ap.parse_args()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        f"r{args.round}",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("merge-plans")
    with tempfile.TemporaryDirectory() as tmp:
        for shape in ("driver", "distributed"):
            if shape == "distributed":
                tables._DRIVER_SOURCE_ROWS = 0
            plan, shuffled = rewrite_plan(spark, os.path.join(tmp, shape))
            path = os.path.join(out_dir, f"merge_{shape}.txt")
            with open(path, "w", encoding="utf-8") as f:
                f.write(f"-- upsert shuffle write bytes: {shuffled}\n{plan}\n")
            print(path, "shuffle bytes", shuffled)
    spark.stop()


if __name__ == "__main__":
    main()
