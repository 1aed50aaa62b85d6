"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import collections
import os
import time
from types import SimpleNamespace

import numpy as np
import pytest

from perfbench import fixtures, report, streams
from perfbench.model import COLUMNS, OrdersModel
from perfbench.trace import Tracer, covered_seconds
from perfbench.workloads import TableCdc, fingerprint, matches

TIERC = sorted(streams.SQL_QUERIES) + ["tierc_other"]


def _streams(seed: int):
    cdc = streams.cdc_plan(seed, rounds=3)
    return (
        streams.sql_session_plan(seed, TIERC),
        cdc,
        [streams.batch_rows(op) for op in cdc if op.keys],
    )


def _same(a, b) -> bool:
    for x, y in zip(a[2], b[2]):
        if x.keys() != y.keys() or any(not np.array_equal(x[k], y[k]) for k in x):
            return False
    return a[:2] == b[:2] and len(a[2]) == len(b[2])


def test_same_seed_gives_identical_op_streams():
    assert _same(_streams(7), _streams(7))


def test_different_seed_gives_different_op_streams():
    a, b = _streams(7), _streams(8)
    assert a[0] != b[0]  # query order
    assert a[1] != b[1]  # batch keys and sizes, read keys
    assert not _same(a, b)


def test_sql_session_runs_a_fixed_query_set_in_seeded_order():
    plans = [streams.sql_session_plan(s, TIERC) for s in range(5)]
    assert all(sorted(p) == sorted(plans[0]) for p in plans)
    assert len({tuple(p) for p in plans}) > 1
    assert sorted(plans[0]) == sorted(streams.SQL_QUERIES)
    with pytest.raises(KeyError, match="tierc_pivot_sql"):
        streams.sql_session_plan(0, [n for n in TIERC if n != "tierc_pivot_sql"])


def test_cdc_rounds_hold_every_commit_kind_and_a_large_batch():
    first = streams.cdc_plan(3, rounds=2)[: len(streams.ROUND)]
    kinds = [o.kind for o in first if o.kind not in ("point", "range")]
    assert sorted(set(kinds)) == ["append", "compact", "delete", "merge", "update", "upsert"]
    assert any(len(o.keys) > 100_000 for o in first)
    assert first[-1].kind == "compact"


def test_every_seed_writes_a_checkpoint_in_the_first_round():
    for seed in range(200):
        first = streams.cdc_plan(seed, rounds=1)
        commits = sum(op.kind not in streams.READ_KINDS for op in first)
        start = streams.CHECKPOINT_EVERY - streams.checkpoint_lead(seed)
        versions = range(start + 1, start + commits + 1)
        assert any(v % streams.CHECKPOINT_EVERY == 0 for v in versions), seed


def test_time_travel_checks_a_version_unlike_the_final_state():
    m = _model(10)
    m.snapshot(3)
    m.apply(streams.CdcOp("delete", lo=0, hi=5, status="F"), None)
    m.snapshot(4)
    m.apply(streams.CdcOp("compact"), None)  # same rows as version 4
    m.snapshot(5)
    final = sorted(OrdersModel.rows(m.df))

    def pick(history):
        fake = SimpleNamespace(model=m, table=SimpleNamespace(history=lambda: history))
        return TableCdc._travel_version(fake, final)

    assert pick([3, 4, 5]) == 3
    assert pick([4, 5]) is None  # only an equal state is left: no check to make


def test_perturbed_result_fails_the_output_check():
    cols = ["k", "v", "s"]
    rows = [(i, i * 0.5, f"r{i}") for i in range(50)]
    expected = fingerprint(cols, rows)
    assert matches(cols, list(reversed(rows)), expected)  # order-insensitive
    bad = list(rows)
    bad[10] = (10, 5.000000001, "r10")
    assert not matches(cols, bad, expected)
    assert not matches(cols, rows[:-1], expected)
    assert not matches(["k", "v", "t"], rows, expected)


def _model(n: int = 1_000) -> OrdersModel:
    return OrdersModel(
        {
            "o_orderkey": list(range(n)),
            "o_custkey": [i % 97 for i in range(n)],
            "o_orderstatus": [streams.STATUSES[i % 3] for i in range(n)],
            "o_totalprice": [1000.0 + i for i in range(n)],
            "o_orderdate": [i * 86_400_000_000 for i in range(n)],
            "o_orderpriority": [streams.PRIORITIES[i % 5] for i in range(n)],
        }
    )


def test_model_replays_each_commit_kind():
    m = _model()
    append = streams.CdcOp("append", [1000, 1001], 1)
    m.apply(append, streams.batch_rows(append))
    assert {1000, 1001} <= set(m.df.index)
    update = streams.CdcOp("update", [5, 6], 2)
    cols = streams.batch_rows(update)
    m.apply(update, cols)
    assert m.df.loc[5, "o_totalprice"] == cols["o_totalprice"][0]
    assert m.df.loc[5, "o_custkey"] == 5  # not a mapped update column
    merge = streams.CdcOp("merge", [7, 8, 2000], 3)
    cols = streams.batch_rows(merge)
    cols["o_totalprice"][0] = 1500.0  # matched and cheap: deleted
    m.apply(merge, cols)
    assert 7 not in m.df.index and 2000 in m.df.index
    assert m.df.loc[8, "o_totalprice"] == cols["o_totalprice"][1]
    m.apply(streams.CdcOp("delete", lo=0, hi=100, status="F"), None)
    assert not ((m.df.index < 100) & (m.df["o_orderstatus"] == "F")).any()


def test_model_comparison_catches_a_lost_update():
    m = _model()
    good = sorted(OrdersModel.rows(m.df))
    m.df.loc[3, "o_orderstatus"] = "X"
    assert sorted(OrdersModel.rows(m.df)) != good
    assert len(good[0]) == len(COLUMNS)


def test_self_times_and_overhead_add_up_to_op_wall_time():
    tracer = Tracer()

    def leaf():
        time.sleep(0.002)

    traced_leaf = tracer.wrap(leaf, "layer.leaf")
    traced_mid = tracer.wrap(lambda: (traced_leaf(), time.sleep(0.001), traced_leaf()), "layer.mid")
    with tracer.op("op"):
        traced_mid()
        time.sleep(0.001)
    spans = tracer.dump()
    root = spans[0]
    total = sum(s["self"] for s in spans) + sum(s["overhead"] for s in spans)
    assert total == pytest.approx(root["end"] - root["start"], abs=1e-9)
    assert [s["name"] for s in spans] == ["op", "layer.mid", "layer.leaf", "layer.leaf"]
    assert all(s["self"] > 0 for s in spans)
    traced_leaf()  # outside any op: not recorded
    assert len(tracer.spans) == 4


def test_covered_seconds_merges_and_clips_intervals():
    assert covered_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered_seconds([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert covered_seconds([], 0, 1) == 0


def test_tail_needs_ten_samples_beyond_it():
    assert report.tail([1.0] * 5)[0] == "p50"
    assert report.tail(list(map(float, range(100))))[0] == "p90"


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SF_DIR"),
    reason="SPARK_GRAFT_SF_DIR names no reference sf0.1 fixture set",
)
def test_synthetic_fixtures_profile_like_the_reference_set():
    """Same tables, row counts, column types and key domains as the
    reference set, distinct counts within 2%, and the same lineitem
    rows-per-order histogram within 2% per bucket."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ref_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    ours = fixtures.build_tables(fixtures.DATA_SEED)
    for name, got in ours.items():
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        assert got.schema.equals(ref.schema, check_metadata=False), name
        assert got.num_rows == ref.num_rows, name
        for col in ref.column_names:
            if not pa.types.is_list(ref.schema.field(col).type):
                a, b = pc.count_distinct(got[col]).as_py(), pc.count_distinct(ref[col]).as_py()
                assert abs(a - b) <= 0.02 * b + 1, (name, col, a, b)
            if col.endswith("key") or col.endswith("_id"):
                assert pc.min_max(got[col]).as_py() == pc.min_max(ref[col]).as_py(), (name, col)

    def fanout(t):
        return collections.Counter(collections.Counter(t["l_orderkey"].to_pylist()).values())

    got, ref = fanout(ours["lineitem"]), fanout(pq.read_table(os.path.join(ref_dir, "lineitem.parquet")))
    assert got.keys() >= {k for k, v in ref.items() if v > 100}
    for k, v in ref.items():
        assert abs(got[k] - v) <= 0.02 * v + 50, (k, got[k], v)
