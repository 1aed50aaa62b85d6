"""Dump the physical plans and Spark jobs of the MERGE rewrite shapes.

Upserts into a fresh 20,000-row ManagedTable three times:

- ``driver``: a 2,000-row batch (half matched keys, half new) built
  from a Python list, which takes the driver shape;
- ``distributed``: the same batch with ``tables._DRIVER_SOURCE_ROWS =
  0``, which forces the distributed shape;
- ``estimated``: an Arrow-built (local) batch of
  ``_DRIVER_SOURCE_ROWS + 1`` rows, which Catalyst's row estimate sends
  to the distributed shape without the driver shape's bounded
  ``toArrow`` collect.

For each, the final (post-AQE) plan of the rewrite's write job is read
from Spark's SQL status store and written to
``plans/r<round>/merge_<case>.txt``, with the shuffle bytes the whole
upsert wrote on the first line and its Spark jobs (name, tasks,
duration) after them.

    python tools/merge_plans.py --round 22
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

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


def _jobs(spark, job_ids) -> list[str]:
    """``name | tasks | duration`` of each job, in job-id order, with
    call-site paths made relative to the repo."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for jid in sorted(job_ids):
        job = store.job(jid)
        ms = job.completionTime().get().getTime() - job.submissionTime().get().getTime()
        name = job.name().replace(REPO + os.sep, "")
        out.append(f"job {jid}: {name} | {job.numTasks()} tasks | {ms} ms")
    return out


def _batch(spark, case: str):
    if case == "estimated":
        import pyarrow as pa
        import pyarrow.compute as pc

        n = tables._DRIVER_SOURCE_ROWS + 1
        keys = pa.array(range(19_000, 19_000 + n), pa.int64())
        return spark.createDataFrame(
            pa.table({"k": keys, "v": pc.negate(keys), "tag": ["new"] * n})
        )
    return spark.createDataFrame(
        [(i, -i, "new") for i in range(19_000, 21_000)], SCHEMA
    ).coalesce(1)


def rewrite_plan(spark, root: str, case: str) -> tuple[str, int, list[str]]:
    t = tables.ManagedTable(spark, root)
    t.create(spark.createDataFrame([], SCHEMA).schema)
    t.append(
        spark.createDataFrame(
            [(i, i, f"t{i % 7}") for i in range(20_000)], SCHEMA
        ).repartition(4)
    )
    batch = _batch(spark, case)
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(10_000)
    seen = {e.executionId() for e in _executions(spark)}
    jobs_before = _job_ids(spark)
    t.upsert(batch, "k")
    sc.listenerBus().waitUntilEmpty(10_000)
    plan = _final_plan(spark, seen)
    new_jobs = _job_ids(spark) - jobs_before
    return plan, _shuffle_bytes(spark, new_jobs), _jobs(spark, new_jobs)


def _final_plan(spark, seen: set) -> str:
    """The plan of the last new execution that joins a parquet scan
    (the rewrite's write), once it is AQE's final plan: the status
    store can take that execution's last plan update after the
    listener bus drains, so poll until it reads ``== Final Plan ==``."""
    deadline = time.monotonic() + 30
    while True:
        new = [
            e.physicalPlanDescription()
            for e in _executions(spark)
            if e.executionId() not in seen
        ]
        plan = [d for d in new if "Join" in d and "Scan parquet" in d][-1]
        if "== Final Plan ==" in plan:
            return plan
        if time.monotonic() > deadline:
            raise RuntimeError("the rewrite's plan never became final")
        time.sleep(0.2)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True)
    args = ap.parse_args()
    out_dir = os.path.join(REPO, "plans", f"r{args.round}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("merge-plans")
    with tempfile.TemporaryDirectory() as tmp:
        bound = tables._DRIVER_SOURCE_ROWS
        for case in ("driver", "distributed", "estimated"):
            tables._DRIVER_SOURCE_ROWS = 0 if case == "distributed" else bound
            plan, shuffled, jobs = rewrite_plan(spark, os.path.join(tmp, case), case)
            path = os.path.join(out_dir, f"merge_{case}.txt")
            with open(path, "w", encoding="utf-8") as f:
                f.write(f"-- upsert shuffle write bytes: {shuffled}\n")
                f.write("".join(f"-- {j}\n" for j in jobs))
                f.write(f"{plan}\n")
            print(path, "shuffle bytes", shuffled, "jobs", len(jobs))
    spark.stop()


if __name__ == "__main__":
    main()
