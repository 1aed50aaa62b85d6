"""Fixture loading: the parquet schema memo in ``sparketl.io``."""

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMOKE
from pyspark.sql.types import BinaryType, StringType, StructType, TimestampType

from sparketl import io


def _jobs(spark, fn):
    """Run ``fn`` and return (its result, the Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"test-io-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "test_io")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def empty_memo(monkeypatch):
    monkeypatch.setattr(io, "_SCHEMAS", {})


def test_second_load_tables_runs_no_jobs(spark, empty_memo):
    first, n_first = _jobs(spark, lambda: io.load_tables(spark, SF_SMOKE))
    assert len(first) == len(io.TABLE_NAMES)
    assert n_first == len(io.TABLE_NAMES)  # one inference job per table
    second, n_second = _jobs(spark, lambda: io.load_tables(spark, SF_SMOKE))
    assert n_second == 0
    assert {k: v.schema for k, v in second.items()} == {
        k: v.schema for k, v in first.items()
    }
    # only schemas are kept, never a DataFrame
    assert all(isinstance(s, StructType) for s in io._SCHEMAS.values())


def test_memoized_schema_equals_fresh_inference(spark, empty_memo):
    io.load_tables(spark, SF_SMOKE)
    for name in io.TABLE_NAMES:
        path = io.table_path(SF_SMOKE, name)
        df, n = _jobs(spark, lambda: io.read_parquet(spark, path))
        assert n == 0, name
        assert df.schema == spark.read.parquet(path).schema, name
    events = io.load_table(spark, SF_SMOKE, "events")
    assert events.schema["ts"].dataType == TimestampType()


def test_fixture_rewritten_in_place_is_reinferred(spark, empty_memo, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert io.read_parquet(spark, path).columns == ["a"]
    assert io.read_parquet(spark, path).columns == ["a"]  # memo hit

    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df, n = _jobs(spark, lambda: io.read_parquet(spark, path))
    assert n == 1
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_keyed_conf_change_reinfers(spark, empty_memo, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"hi"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "false")
        assert io.read_parquet(spark, path).schema["b"].dataType == BinaryType()
        spark.conf.set(conf, "true")
        df, n = _jobs(spark, lambda: io.read_parquet(spark, path))
        assert n == 1
        assert df.schema["b"].dataType == StringType()
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


def test_staged_event_chunks_need_no_inference(spark):
    import shutil

    from sparketl.streaming.stateful import read_staged_stream, stage_event_chunks

    stage = stage_event_chunks(spark, SF_SMOKE, n_chunks=2)
    try:
        events = io.load_table(spark, SF_SMOKE, "events")
        part = os.path.join(stage, sorted(os.listdir(stage))[0])
        # the schema the stage's readers are handed is the one Spark infers
        assert spark.read.parquet(part).schema == events.schema
        assert spark.read.parquet(stage).schema == events.schema
        stream, n = _jobs(spark, lambda: read_staged_stream(spark, stage))
        assert n == 0
        assert stream.schema == events.schema
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def test_event_stream_staged_copy_uses_memo(spark):
    from sparketl.streaming.windows import read_event_stream

    read_event_stream(spark, SF_SMOKE)
    _, n = _jobs(spark, lambda: read_event_stream(spark, SF_SMOKE))
    assert n == 0


# -- frame memo and view check in load_tables --------------------------------


def _raw_views(spark, names):
    """JVM identity of each temp view the session holds now (0: none)."""
    catalog = spark._jsparkSession.sessionState().catalog()
    ident = spark._jvm.System.identityHashCode
    out = {}
    for name in names:
        view = catalog.getRawTempView(name)
        out[name] = ident(view.get()) if view.isDefined() else 0
    return out


def test_warm_load_tables_reuses_frames_and_views(spark):
    first = io.load_tables(spark, SF_SMOKE)
    views = _raw_views(spark, first)
    second, n = _jobs(spark, lambda: io.load_tables(spark, SF_SMOKE))
    assert n == 0
    assert all(second[k] is first[k] for k in first)
    assert _raw_views(spark, first) == views  # no view registered again
    assert io.load_table(spark, SF_SMOKE, "orders") is first["orders"]


def test_replaced_fixture_view_is_restored(spark):
    tables = io.load_tables(spark, SF_SMOKE)
    spark.sql("CREATE OR REPLACE TEMP VIEW orders AS SELECT 1 AS x")
    assert spark.table("orders").columns == ["x"]
    views = _raw_views(spark, tables)
    io.load_tables(spark, SF_SMOKE)
    assert spark.table("orders").columns == tables["orders"].columns
    after = _raw_views(spark, tables)
    assert after["orders"] != views["orders"]
    assert {k: v for k, v in after.items() if k != "orders"} == {
        k: v for k, v in views.items() if k != "orders"
    }


def test_rewritten_fixture_gives_its_new_rows(spark, tmp_path):
    s2 = spark.newSession()  # keeps the fixture views of `spark` intact
    sf = str(tmp_path)
    path = io.table_path(sf, "nation")

    def rows():
        return sorted(tuple(r) for r in io.load_tables(s2, sf)["nation"].collect())

    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert rows() == [(1,), (2,)]
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)  # new size
    assert rows() == [(1,), (2,), (3,)]
    assert sorted(tuple(r) for r in s2.table("nation").collect()) == [(1,), (2,), (3,)]
    st = os.stat(path)
    pq.write_table(pa.table({"k": [7, 8, 9]}), path)  # same size, new mtime
    assert os.stat(path).st_size == st.st_size
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert rows() == [(7,), (8,), (9,)]


def test_new_session_gets_its_own_frames_and_views(spark):
    mine = io.load_tables(spark, SF_SMOKE)
    views = _raw_views(spark, mine)
    s2 = spark.newSession()
    theirs = io.load_tables(s2, SF_SMOKE)
    assert set(theirs) == set(mine)
    assert all(theirs[k] is not mine[k] for k in mine)
    assert all(theirs[k].sparkSession is s2 for k in theirs)
    assert all(v != 0 for v in _raw_views(s2, theirs).values())
    assert _raw_views(spark, mine) == views
    assert io.load_tables(s2, SF_SMOKE)["orders"] is theirs["orders"]
    assert io.load_tables(spark, SF_SMOKE)["orders"] is mine["orders"]


def test_changed_inference_conf_misses_the_frame_memo(spark):
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf, None)
    base = io.load_table(spark, SF_SMOKE, "documents")
    try:
        spark.conf.set(conf, "false" if before == "true" else "true")
        assert io.load_table(spark, SF_SMOKE, "documents") is not base
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)
    assert io.load_table(spark, SF_SMOKE, "documents") is base


def test_reset_schema_memo_drops_the_frame(spark, monkeypatch):
    base = io.load_table(spark, SF_SMOKE, "region")
    monkeypatch.setattr(io, "_SCHEMAS", {})
    df, n = _jobs(spark, lambda: io.load_table(spark, SF_SMOKE, "region"))
    assert n == 1 and df is not base
    assert io.load_table(spark, SF_SMOKE, "region") is df
