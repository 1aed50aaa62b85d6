"""Seeded op streams for the workloads.

Pure Python, no Spark: the same seed always yields the same stream, and
the program under test only ever sees what these functions generate.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import numpy as np

# sql_session's queries: seven of the 52 `tierc_*` entries, picked so
# that their costs span the family's range (0.8-2.9 s per call plus
# preview at sf0.1 on 4 cores) and sum to the family's mean (10.1 s for
# the seven, against 7/52 of the family's 77.6 s). The list is fixed so
# that runs compare across seeds and commits; the seed sets the order.
SQL_QUERIES = (
    "tierc_nation_volume",
    "tierc_pivot_sql",
    "tierc_promo_revenue",
    "tierc_qualify_cte",
    "tierc_shipping_priority",
    "tierc_sql_udf",
    "tierc_tsql_dates",
)

# Streaming entry that ends each table_cdc run: a staged event stream
# maintained as a top-k view through foreachBatch upserts into
# ManagedTables, materialised to the noop sink.
STREAM_OPS = ("ext_160_stream_topk_ivm",)

# table_cdc: base rows come from `orders` (keys 0 .. ORDERS_ROWS-1);
# large batches straddle the table layer's 100k driver-collect limit.
ORDERS_ROWS = 150_000
SMALL_BATCH = (200, 3_000)
LARGE_BATCH = (100_001, 130_000)
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
# one round of the commit stream, in this fixed order: every commit kind
# once, the "large" one an upsert or MERGE of more than 100k rows, then a
# Z-order compact (and vacuum), with a point and a range read after each
# commit. The order is fixed because the round's first commit pays the
# first use of the write paths; the seed draws keys, sizes and the large
# kind.
ROUND = (
    "append", "point", "range", "update", "point", "range",
    "upsert", "point", "range", "merge", "point", "range",
    "delete", "point", "range", "large", "point", "range", "compact",
)
RANGE_WIDTH = (2_000, 3_000)  # keys per range read
READ_KINDS = ("point", "range")
# every commit kind in ROUND commits one table version
COMMITS_PER_ROUND = sum(k not in READ_KINDS for k in ROUND)
CHECKPOINT_EVERY = 20  # the table layer's checkpoint interval, in versions


def checkpoint_lead(seed: int) -> int:
    """How many commits into the first round the stream writes a
    checkpoint: the table is first brought to version
    ``CHECKPOINT_EVERY - lead``, so its ``lead``-th commit lands on one."""
    return random.Random(f"table_cdc:lead:{seed}").randint(1, COMMITS_PER_ROUND)


def sql_session_plan(seed: int, registry: list[str]) -> list[str]:
    """``SQL_QUERIES`` in seeded order; every one must be in ``registry``."""
    missing = [n for n in SQL_QUERIES if n not in registry]
    if missing:
        raise KeyError(f"sql_session queries missing from the registry: {missing}")
    plan = list(SQL_QUERIES)
    random.Random(f"sql_session:{seed}").shuffle(plan)
    return plan


@dataclass
class CdcOp:
    """One table_cdc step. ``kind`` is a commit (append, update, upsert,
    merge, delete, compact) or a read (point, range). Commits that take a
    batch carry its keys and a row seed; the workload builds the batch
    rows from those with :func:`batch_rows`."""

    kind: str
    keys: list[int] = field(default_factory=list)
    row_seed: int = 0
    lo: int = 0
    hi: int = 0
    status: str = ""


def _window_keys(rng: random.Random, n: int, lo: int, hi: int) -> list[int]:
    """``n`` distinct keys from a seeded window of ``[lo, hi)`` about
    1-4x wider than ``n`` — worksheet batches touch nearby keys."""
    width = min(hi - lo, n * rng.randint(1, 4))
    start = rng.randrange(lo, hi - width + 1)
    return sorted(rng.sample(range(start, start + width), n))


def cdc_plan(seed: int, rounds: int = 20) -> list[CdcOp]:
    """A seeded stream of ``ROUND``s. Fresh keys for appends and inserts
    count up from ``ORDERS_ROWS``; updates, upserts, MERGEs and deletes
    aim at keys that exist or once existed, and upsert/MERGE batches also
    carry fresh keys, so they insert."""
    rng = random.Random(f"table_cdc:{seed}")
    next_key = ORDERS_ROWS
    ops: list[CdcOp] = []
    for _ in range(rounds):
        for kind in ROUND:
            if kind in READ_KINDS or kind == "delete":
                lo = rng.randrange(next_key)
                if kind == "point":
                    ops.append(CdcOp(kind, lo=lo))
                elif kind == "range":
                    ops.append(CdcOp(kind, lo=lo, hi=lo + rng.randint(*RANGE_WIDTH)))
                else:
                    ops.append(CdcOp(kind, lo=lo, hi=lo + rng.randint(100, 4_000),
                                     status=rng.choice(STATUSES)))
                continue
            if kind == "compact":
                ops.append(CdcOp(kind))
                continue
            large = kind == "large"
            if large:
                kind = rng.choice(["upsert", "merge"])
            n = rng.randint(*(LARGE_BATCH if large else SMALL_BATCH))
            row_seed = rng.randrange(1 << 30)
            if kind == "append":
                ops.append(CdcOp(kind, list(range(next_key, next_key + n)), row_seed))
                next_key += n
            elif kind == "update":
                ops.append(CdcOp(kind, _window_keys(rng, n, 0, next_key), row_seed))
            else:
                fresh = max(1, n // 10)
                old = _window_keys(rng, n - fresh, 0, next_key)
                ops.append(CdcOp(kind, old + list(range(next_key, next_key + fresh)), row_seed))
                next_key += fresh
    return ops


def batch_rows(op: CdcOp) -> dict[str, np.ndarray]:
    """Column values of a commit's batch in the `orders` layout, with
    ``o_orderdate`` as epoch microseconds. A MERGE batch prices about one
    row in twenty under 2000, which its statement turns into a delete."""
    rng = np.random.default_rng(op.row_seed)
    n = len(op.keys)
    price = np.round(rng.uniform(2000.0, 500000.0, n), 2)
    if op.kind == "merge":
        cheap = rng.random(n) < 0.05
        price[cheap] = np.round(rng.uniform(1000.0, 1999.0, int(cheap.sum())), 2)
    day_us = 86_400 * 1_000_000
    return {
        "o_orderkey": np.asarray(op.keys, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, n, dtype=np.int64),
        "o_orderstatus": np.asarray(STATUSES, dtype=object)[rng.integers(0, 3, n)],
        "o_totalprice": price,
        "o_orderdate": 788_918_400 * 1_000_000 + rng.integers(0, 2400, n) * day_us,
        "o_orderpriority": np.asarray(PRIORITIES, dtype=object)[rng.integers(0, 5, n)],
    }
