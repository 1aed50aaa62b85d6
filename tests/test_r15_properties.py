"""Round-15 optimization-mechanism tests.

Pins the r15 write/merge machinery: write-job stats (one native
writer for every schema, footer min/max for numeric and string
columns), the MERGE driver shape (broadcast-left + local insert file)
against the distributed one, the capture_matched pre-image channel, and
the exact-hash partition keys behind the sampling-free staging and
z-order compact.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparketl.tables import ManagedTable, TableError


def _mk(spark, tmp_path, name, fields):
    t = ManagedTable(spark, str(tmp_path / name))
    t.create(T.StructType(fields))
    return t


def _num_table(spark, tmp_path, name="t"):
    t = _mk(
        spark,
        tmp_path,
        name,
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
        ],
    )
    t.append(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k long, v long"
        ).coalesce(1)
    )
    return t


# -- write-job stats -----------------------------------------------------


def test_write_stats_numeric_schema_no_arrow_writer(spark, tmp_path):
    """All-numeric schemas take the native writer: manifest stats come
    from the footer read and match the data exactly, and the manifest
    carries no Bloom filters."""
    t = _num_table(spark, tmp_path)
    m = t._manifest()
    (f,) = m["files"]
    assert m["file_stats"][f]["k"] == [1, 3]
    assert m["file_stats"][f]["v"] == [10, 30]
    assert "file_blooms" not in m


def test_write_stats_string_schema_has_blooms(spark, tmp_path):
    """String-bearing schemas take the same native writer: the footer
    read records exact string min/max (no Bloom bits, no driver column
    read) and string-equality pruning works off them."""
    t = _mk(
        spark,
        tmp_path,
        "s",
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
        ],
    )
    t.append(
        spark.createDataFrame([(1, "aa"), (2, "bb")], "k long, s string").coalesce(1)
    )
    t.append(
        spark.createDataFrame([(3, "cc"), (4, "dd")], "k long, s string").coalesce(1)
    )
    m = t._manifest()
    assert sorted(m["file_stats"][f]["s"] for f in m["files"]) == [
        ["aa", "bb"],
        ["cc", "dd"],
    ]
    assert "file_blooms" not in m
    assert len(t.candidate_files("s = 'aa'")) == 1
    assert {r["k"] for r in t.read(where="s = 'aa'").collect()} == {1}


def test_write_stats_nan_semantics_match_both_paths(spark, tmp_path):
    """Numeric and string-bearing schemas both get Spark-total-order
    NaN stats: max is NaN-sticky, min is the smallest real, so a NaN
    row stays reachable through an upper-bound prune. The MERGE driver
    shape's insert file records no float stats (pyarrow's min/max skip
    NaN), so its NaN rows stay reachable too."""
    rows = [(1, 1.0, "x"), (2, float("nan"), "y"), (3, float("nan"), "n"), (4, 5.0, "m")]
    for name, ddl in (
        ("num", "k long, v double"),
        ("str", "k long, v double, s string"),
    ):
        width = len(ddl.split(","))
        t = ManagedTable(spark, str(tmp_path / name))
        t.create(spark.createDataFrame([], ddl).schema)
        t.append(spark.createDataFrame([r[:width] for r in rows[:2]], ddl).coalesce(1))
        (f,) = t.data_files()
        fs = t._manifest()["file_stats"][f]
        assert fs["k"] == [1, 2]
        mn, mx = fs["v"]
        assert mn == 1.0 and math.isnan(mx)
        assert {r["k"] for r in t.read(where="v > 100").collect()} == {2}
        # keys 3 and 4 match no file: the driver shape writes only its
        # driver-side insert file
        t.upsert(spark.createDataFrame([r[:width] for r in rows[2:]], ddl), "k")
        (g,) = [x for x in t.data_files() if x != f]
        gs = t._manifest()["file_stats"][g]
        assert gs["k"] == [3, 4] and "v" not in gs
        assert {r["k"] for r in t.read(where="v > 100").collect()} == {2, 3}
        if width == 3:
            assert fs["s"] == ["x", "y"] and gs["s"] == ["m", "n"]
            assert t.candidate_files("s = 'y'") == [f]
            assert {r["k"] for r in t.read(where="s = 'y'").collect()} == {2}


# -- MergeBuilder ----------------------------------------------------------


def test_merge_duplicate_source_raises_through_pruned_check(spark, tmp_path):
    """The duplicate-match validation still fires when it reads only
    the candidate files (r14 advisor: no direct test existed)."""
    t = _num_table(spark, tmp_path)
    dup = spark.createDataFrame([(2, 1), (2, 2)], "k long, v long")
    with pytest.raises(TableError, match="more than once"):
        (
            t.merge(dup, "target.k = source.k")
            .when_matched_update({"v": "source.v"})
            .execute()
        )


def _merge_state(t, src):
    (
        t.merge(src, "target.k = source.k")
        .when_matched_delete("source.v < 0")
        .when_matched_update({"v": "source.v"}, "source.v >= 0")
        .when_not_matched_insert(condition="source.v >= 0")
        .execute()
    )
    return sorted(map(tuple, t.read().select("k", "v").collect()))


def _local_files(t):
    return [f for f in t.data_files() if "part-local-" in f]


def test_driver_shape_equivalent_to_distributed_merge(spark, tmp_path, monkeypatch):
    """The driver shape (broadcast-left rewrite + local insert file)
    produces exactly the distributed full-outer shape's table state
    (update, delete and insert rows), and each shape is the one taken."""
    import sparketl.tables as tables

    rows = [(2, 99), (3, -1), (7, 70), (9, -5)]
    src = spark.createDataFrame(rows, "k long, v long")
    tb = _num_table(spark, tmp_path, "driver")
    b = _merge_state(tb, src)
    monkeypatch.setattr(tables, "_DRIVER_SOURCE_ROWS", 0)
    ta = _num_table(spark, tmp_path, "full")
    a = _merge_state(ta, src)
    assert a == b == [(1, 10), (2, 99), (7, 70)]
    assert len(_local_files(tb)) == 1 and not _local_files(ta)


def test_capture_matched_returns_pre_image(spark, tmp_path):
    """capture_matched reports every matched row's pre-image — deleted
    rows included (their groups must re-rank in the CDC applier)."""
    t = _num_table(spark, tmp_path)
    src = spark.createDataFrame([(2, 99), (3, -1), (7, 70)], "k long, v long")
    _, captured = (
        t.merge(src, "target.k = source.k")
        .when_matched_delete("source.v < 0")
        .when_matched_update({"v": "source.v"}, "source.v >= 0")
        .when_not_matched_insert(condition="source.v >= 0")
        .execute(capture_matched="target.v")
    )
    # pre-images of matched keys 2 (v=20) and 3 (v=30, deleted)
    assert sorted(captured) == [20, 30]


def test_upsert_insert_only_commits_without_spark_write_job(spark, tmp_path):
    """A small-source upsert into an empty key range writes only the
    driver-side local file — and the rows come back exactly."""
    t = _mk(
        spark,
        tmp_path,
        "ins",
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())],
    )
    src = spark.createDataFrame([(5, 50), (6, 60)], "k long, v long")
    t.upsert(src, key="k")
    assert sorted(map(tuple, t.read().collect())) == [(5, 50), (6, 60)]
    # the inserted file carries write-side stats usable for pruning
    assert len(t.candidate_files("k = 5")) == 1


def test_cdc_over_threshold_batch_uses_distributed_path(spark, tmp_path):
    """A batch above CDC_INLIST_MAX never collects the full key set
    (r14 verdict item 5): the distributed path runs and the view still
    matches the declarative top-k."""
    import datetime as dt

    import sparketl.operators.curation as cur
    from sparketl.operators.curation import cdc_rank_apply_batch
    from tests.test_r13_properties import _mk_cdc_tables
    from pyspark.sql import Window

    base, view = _mk_cdc_tables(spark, tmp_path)
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        (u, 1000 + u * 7 + (1 if (1000 + u * 7) % 9 == 0 else 0), t0, float(u))
        for u in range(1, 41)
    ]
    batch = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    old_max = cur.CDC_INLIST_MAX
    collected = []
    cls = type(batch)  # the concrete (classic) DataFrame class
    orig_limit = cls.limit

    def spy_limit(self, n):
        collected.append(n)
        return orig_limit(self, n)

    cur.CDC_INLIST_MAX = 10  # force the over-threshold branch
    cls.limit = spy_limit
    try:
        cdc_rank_apply_batch(base, view, batch, k=3)
    finally:
        cur.CDC_INLIST_MAX = old_max
        cls.limit = orig_limit
    # the bounded probe used limit(MAX+1) — never an unbounded collect
    assert 11 in collected
    got = {
        (r["user_id"], r["rank"], r["event_id"])
        for r in view.read().collect()
    }
    w = Window.partitionBy("user_id").orderBy(F.desc("value_cents"), "event_id")
    want = {
        (r["user_id"], r["rank"], r["event_id"])
        for r in base.read()
        .withColumn("rank", F.row_number().over(w))
        .filter("rank <= 3")
        .collect()
    }
    assert got == want


def test_cdc_k_out_of_range_raises(spark, tmp_path):
    from sparketl.operators.curation import cdc_rank_apply_batch
    from tests.test_r13_properties import _mk_cdc_tables

    base, view = _mk_cdc_tables(spark, tmp_path)
    batch = spark.createDataFrame(
        [], "user_id long, event_id long, ts timestamp, value double"
    )
    with pytest.raises(ValueError, match="k < 100"):
        cdc_rank_apply_batch(base, view, batch, k=100)


# -- exact hash partition keys ----------------------------------------------


def test_exact_hash_partition_keys_match_spark(spark):
    """The pure-Python Murmur3 pin: for every n used by the staging and
    compact paths, key i lands in partition i under Spark's own hash
    partitioning."""
    from sparketl.io import exact_hash_partition_keys

    for n in (2, 3, 4, 8, 16, 32):
        keys = exact_hash_partition_keys(n)
        rows = (
            spark.createDataFrame(
                [(i, k) for i, k in enumerate(keys)], "i int, k int"
            )
            .select("i", F.pmod(F.hash("k"), F.lit(n)).alias("p"))
            .collect()
        )
        assert all(r["i"] == r["p"] for r in rows), (n, keys)


def test_stage_event_chunks_time_ordered(spark):
    """The sampling-free staging still yields time-ordered contiguous
    chunk files (the property every staged stream relies on)."""
    import os

    import pyarrow.parquet as pq

    from sparketl.streaming.stateful import stage_event_chunks

    stage = stage_event_chunks(spark, "/root/testdata/sf0.01", n_chunks=4)
    try:
        prev_hi = None
        for f in sorted(os.listdir(stage)):
            ts = pq.read_table(
                os.path.join(stage, f), columns=["ts"]
            ).column("ts").to_pylist()
            assert ts == sorted(ts)
            if prev_hi is not None and ts:
                assert prev_hi <= ts[0]
            if ts:
                prev_hi = ts[-1]
    finally:
        import shutil

        shutil.rmtree(stage, ignore_errors=True)
