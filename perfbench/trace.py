"""Spans around the program's public calls, for the traced run only.

:class:`Tracer` wraps functions and methods of the ``sparketl`` modules
from outside (nothing in the program changes), keeps every span in
memory, and computes self times at the end. :class:`SparkCounters`
reads Spark's status store between ops, so job, stage, task and byte
counts can be attributed to the op that caused them.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from time import perf_counter


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = -1
    # wrapper bookkeeping outside [start, end]; it falls inside the
    # parent's interval, so it is subtracted from the parent's self time
    overhead: float = 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op_id = -1
        self._main: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        # epoch seconds = perf_counter() + epoch_offset (Spark stamps jobs in epoch ms)
        self.epoch_offset = time.time() - perf_counter()

    # -- span bookkeeping -------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str) -> int:
        stack = self._stack()
        # a callback thread (foreachBatch) nests under the main thread's
        # innermost span, which is blocked waiting for it
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            self.spans.append(Span(name, 0.0, parent=parent, op=self.op_id))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    @contextmanager
    def op(self, name: str):
        """The root span of one timed op."""
        self.op_id += 1
        idx = self._open(name)
        span = self.spans[idx]
        span.start = perf_counter()
        try:
            yield span
        finally:
            span.end = perf_counter()
            self._stack().pop()

    @contextmanager
    def span(self, name: str):
        """A span inside the current op; outside any op nothing is kept."""
        if not self._main and not getattr(self._local, "stack", None):
            yield
            return
        t_in = perf_counter()
        idx = self._open(name)
        span = self.spans[idx]
        span.start = perf_counter()
        try:
            yield
        finally:
            span.end = perf_counter()
            self._stack().pop()
            span.overhead = (span.start - t_in) + (perf_counter() - span.end)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- installing wrappers ------------------------------------------------
    def patch_function(self, module: str, attr: str, name: str) -> None:
        """Wrap ``module.attr`` and every alias of it that a loaded
        ``sparketl`` module imported by name."""
        original = getattr(importlib.import_module(module), attr)
        wrapped = self.wrap(original, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == "sparketl" or mod_name.startswith("sparketl.")):
                continue
            for key, val in list(vars(mod).items()):
                if val is original:
                    self._patches.append((mod, key, original))
                    setattr(mod, key, wrapped)

    def patch_method(self, cls, attr: str, name: str) -> None:
        original = inspect.getattr_static(cls, attr)
        self._patches.append((cls, attr, original))
        setattr(cls, attr, self.wrap(original, name))

    def patch_public_methods(self, cls, prefix: str) -> None:
        for attr, val in list(vars(cls).items()):
            if not attr.startswith("_") and inspect.isfunction(val):
                self.patch_method(cls, attr, f"{prefix}.{attr}")

    def patch_foreach_batch(self, name: str) -> None:
        """Wrap every function the program hands to ``foreachBatch``, so
        each micro-batch it applies becomes a span."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        original = DataStreamWriter.foreachBatch
        tracer = self

        def foreachBatch(writer, func):  # noqa: N802 - pyspark's name
            return original(writer, tracer.wrap(func, name))

        self._patches.append((DataStreamWriter, "foreachBatch", original))
        DataStreamWriter.foreachBatch = foreachBatch

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- analysis -----------------------------------------------------------
    def self_times(self) -> list[float]:
        """Self time of every span: its duration minus the union of its
        children's intervals and minus their wrapper bookkeeping."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children.setdefault(s.parent, []).append(i)
        out = []
        for i, s in enumerate(self.spans):
            kids = [self.spans[c] for c in children.get(i, [])]
            covered = covered_seconds([(k.start, k.end) for k in kids], s.start, s.end)
            out.append(s.end - s.start - covered - sum(k.overhead for k in kids))
        return out

    def dump(self) -> list[dict]:
        selfs = self.self_times()
        return [
            {
                "name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                "op": s.op, "self": selfs[i], "overhead": s.overhead,
            }
            for i, s in enumerate(self.spans)
        ]


def install_program_wrappers(tracer: Tracer) -> None:
    """Wrap the program's layer boundaries named by the benchmark."""
    from sparketl import engine, tables

    tracer.patch_function("sparketl.session", "get_spark", "session.get_spark")
    tracer.patch_function("sparketl.io", "load_tables", "io.load_tables")
    tracer.patch_function("sparketl.dialect", "transpile", "dialect.transpile")
    tracer.patch_function("sparketl.dialect", "parse_merge", "dialect.parse_merge")
    for fn in ("ingest_append", "ingest_update", "validate_batch", "cast_to_schema"):
        tracer.patch_function("sparketl.ingest", fn, f"ingest.{fn}")
    tracer.patch_function(
        "sparketl.streaming.stateful", "stage_event_chunks", "streaming.stage_event_chunks"
    )
    tracer.patch_foreach_batch("streaming.batch_apply")
    tracer.patch_method(engine.Engine, "execute", "engine.execute")
    tracer.patch_method(engine.Engine, "preview", "engine.preview")
    tracer.patch_public_methods(tables.ManagedTable, "tables")
    tracer.patch_method(tables.MergeBuilder, "execute", "tables.merge_execute")


class SparkCounters:
    """Deltas of Spark's status store between two calls of :meth:`take`.

    Job ids are sequential, so each call reads the jobs after the last
    one it consumed, in every job group (streaming micro-batch jobs run
    in their query's group). A job still running is left for the next
    call."""

    def __init__(self, spark) -> None:
        self.store = spark._jsc.sc().statusStore()
        jobs = self.store.jobsList(None)
        self.next_job = 1 + max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
        self.seen_stages: set[int] = set()

    def _job(self, job_id: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self.store.job(job_id)
        except Py4JJavaError:  # NoSuchElementException: not submitted yet
            return None

    def take(self) -> list[dict]:
        """One record per job finished since the last call."""
        out = []
        while (job := self._job(self.next_job)) is not None:
            if str(job.status()) == "RUNNING":
                break
            self.next_job += 1
            sub, done = job.submissionTime(), job.completionTime()
            rec = {
                "submit": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                "done": done.get().getTime() / 1000.0 if done.isDefined() else 0.0,
                "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                "scan_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            }
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                st = self.store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numCompleteTasks()
                rec["executor_run_s"] += st.executorRunTime() / 1000.0
                rec["scan_bytes"] += st.inputBytes()
                rec["shuffle_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out.append(rec)
        return out


def planning_ms(df) -> dict:
    """Catalyst phase times recorded on a DataFrame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        out[p] = opt.get().durationMs() if opt.isDefined() else 0
    return out


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
