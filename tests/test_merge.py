"""General MERGE: ManagedTable.MergeBuilder + the T-SQL MERGE
statement front-end (dialect.parse_merge → Engine.execute).

T-SQL semantics verified: clause order / first-match-wins, conditional
UPDATE/DELETE, INSERT with and without a column list, WHEN NOT MATCHED
BY SOURCE, the multiple-source-match error, and Delta-style file
pruning for equality-key merges."""

import pytest
from pyspark.sql import types as T

from sparketl.engine import Engine, QueryError
from sparketl.tables import ManagedTable, TableError

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("bal", T.DoubleType(), True),
    ]
)


def make(spark, root, rows=((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0))):
    t = ManagedTable(spark, str(root))
    t.create(SCHEMA)
    t.append(spark.createDataFrame(list(rows), SCHEMA))
    return t


def state(t):
    return sorted(tuple(r) for r in t.read().collect())


def test_merge_upsert_shape(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    src = spark.createDataFrame([(2, "B", 20.0), (9, "i", 9.0)], SCHEMA)
    v = (
        t.merge(src, "target.id = source.id")
        .when_matched_update({"name": "source.name", "bal": "source.bal"})
        .when_not_matched_insert()
        .execute()
    )
    assert v == t.history()[-1]
    assert state(t) == [
        (1, "a", 1.0),
        (2, "B", 20.0),
        (3, "c", 3.0),
        (9, "i", 9.0),
    ]


def test_merge_conditional_clauses_first_match_wins(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    src = spark.createDataFrame(
        [(1, "x", 100.0), (2, "y", -5.0), (3, "z", 0.5)], SCHEMA
    )
    # clause order: delete negative-bal matches first, then a guarded
    # update; id=3 matches neither condition and must pass through
    (
        t.merge(src, "target.id = source.id")
        .when_matched_delete("source.bal < 0")
        .when_matched_update({"bal": "source.bal"}, "source.bal >= 1.0")
        .execute()
    )
    assert state(t) == [(1, "a", 100.0), (3, "c", 3.0)]


def test_merge_update_expressions_combine_both_sides(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    src = spark.createDataFrame([(1, "whatever", 10.0)], SCHEMA)
    (
        t.merge(src, "target.id = source.id")
        .when_matched_update({"bal": "target.bal + source.bal"})
        .execute()
    )
    assert state(t)[0] == (1, "a", 11.0)


def test_merge_not_matched_by_source(spark, tmp_path):
    """T-SQL full-sync: rows absent from the source are deleted, rows
    present are updated, new rows insert — one statement."""
    t = make(spark, tmp_path / "t")
    src = spark.createDataFrame([(2, "B", 20.0), (4, "d", 4.0)], SCHEMA)
    (
        t.merge(src, "target.id = source.id")
        .when_matched_update({"name": "source.name", "bal": "source.bal"})
        .when_not_matched_insert()
        .when_not_matched_by_source_delete()
        .execute()
    )
    assert state(t) == [(2, "B", 20.0), (4, "d", 4.0)]


def test_merge_by_source_update_condition(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    src = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    (
        t.merge(src, "target.id = source.id")
        .when_not_matched_by_source_update(
            {"name": "'stale'"}, "target.id > 2"
        )
        .execute()
    )
    assert state(t) == [(1, "a", 1.0), (2, "b", 2.0), (3, "stale", 3.0)]


def test_merge_duplicate_source_matches_raise(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    src = spark.createDataFrame([(2, "y1", 1.0), (2, "y2", 2.0)], SCHEMA)
    with pytest.raises(TableError, match="more than once"):
        (
            t.merge(src, "target.id = source.id")
            .when_matched_update({"name": "source.name"})
            .execute()
        )
    # insert-only merges tolerate duplicate matches (nothing fires twice
    # on one target row); both duplicates are matched so neither inserts
    v = (
        t.merge(src, "target.id = source.id")
        .when_not_matched_insert()
        .execute()
    )
    assert v and state(t) == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]


def test_merge_requires_a_clause_and_known_columns(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    src = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    with pytest.raises(TableError, match="WHEN clause"):
        t.merge(src, "target.id = source.id").execute()
    with pytest.raises(TableError, match="unknown columns"):
        (
            t.merge(src, "target.id = source.id")
            .when_matched_update({"nope": "1"})
            .execute()
        )


def test_merge_file_pruning_equality_key(spark, tmp_path):
    """Equality-key merges rewrite only the files whose footer range
    intersects the source keys; BY SOURCE clauses force a full
    rewrite (they act on rows in non-candidate files)."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.create(T.StructType.fromDDL("id long, v double"))
    for lo in range(0, 100, 25):
        t.append(
            spark.createDataFrame(
                [(i, float(i)) for i in range(lo, lo + 25)], "id long, v double"
            ).coalesce(1)
        )
    before = set(t.candidate_files(None))
    src = spark.createDataFrame([(80, -1.0), (90, -2.0)], "id long, v double")
    (
        t.merge(src, "target.id = source.id")
        .when_matched_update({"v": "source.v"})
        .execute()
    )
    after = set(t.candidate_files(None))
    # three of the four files are carried over untouched
    assert len(before & after) == 3
    got = dict((r["id"], r["v"]) for r in t.read().collect())
    assert got[80] == -1.0 and got[90] == -2.0 and got[10] == 10.0


def test_merge_sql_statement_tsql_spellings(spark, tmp_path):
    """The full T-SQL statement through Engine.execute: aliases,
    bracket identifiers, a conditional DELETE, an INSERT column list,
    and a T-SQL function (ISNULL) inside an assignment."""
    eng = Engine(spark, saved_queries_path=str(tmp_path / "q.json"))
    t = make(spark, tmp_path / "t")
    eng.register_managed("accounts", t)
    src = spark.createDataFrame(
        [(2, None, 20.0), (3, "zap", -1.0), (7, "g", 7.0)], SCHEMA
    )
    src.createOrReplaceTempView("changes")
    out = eng.execute(
        """
        MERGE INTO accounts AS tgt
        USING changes AS s
        ON tgt.[id] = s.[id]
        WHEN MATCHED AND s.bal < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET name = ISNULL(s.name, tgt.name),
                                     [bal] = s.bal
        WHEN NOT MATCHED THEN INSERT (id, name, bal)
            VALUES (s.id, s.name, s.bal * 2)
        """
    )
    assert out.collect()[0]["version"] == t.history()[-1]
    assert state(t) == [(1, "a", 1.0), (2, "b", 20.0), (7, "g", 14.0)]


def test_merge_sql_subquery_source_and_insert_star(spark, tmp_path):
    eng = Engine(spark, saved_queries_path=str(tmp_path / "q.json"))
    t = make(spark, tmp_path / "t")
    eng.register_managed("accounts", t)
    spark.createDataFrame(
        [(5, "e", 5.0), (6, "f", 6.0)], SCHEMA
    ).createOrReplaceTempView("raw_changes")
    eng.execute(
        """
        MERGE accounts t
        USING (SELECT TOP 1 * FROM raw_changes ORDER BY id) s
        ON t.id = s.id
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    assert state(t)[-1] == (5, "e", 5.0)


def test_merge_sql_positional_values_and_errors(spark, tmp_path):
    eng = Engine(spark, saved_queries_path=str(tmp_path / "q.json"))
    t = make(spark, tmp_path / "t")
    eng.register_managed("accounts", t)
    spark.createDataFrame([(8, "h", 8.0)], SCHEMA).createOrReplaceTempView(
        "chg"
    )
    eng.execute(
        "MERGE INTO accounts USING chg ON accounts.id = chg.id "
        "WHEN NOT MATCHED THEN INSERT VALUES (chg.id, chg.name, chg.bal)"
    )
    assert state(t)[-1] == (8, "h", 8.0)
    with pytest.raises(QueryError, match="registered managed table"):
        eng.execute(
            "MERGE INTO nope USING chg ON nope.id = chg.id "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    # a parameterized MERGE must refuse loudly, not silently drop the
    # bound params (ADVICE r8: the MERGE path bypasses spark.sql args)
    with pytest.raises(QueryError, match="bound parameters"):
        eng.execute(
            "MERGE INTO accounts USING chg ON accounts.id = chg.id "
            "WHEN MATCHED AND accounts.bal > ? THEN DELETE",
            params=[100.0],
        )


def test_merge_parse_errors(spark):
    from sparketl.dialect import DialectError, parse_merge

    assert parse_merge("SELECT 1") is None
    with pytest.raises(DialectError, match="only INSERT"):
        parse_merge(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN NOT MATCHED THEN DELETE"
        )
    with pytest.raises(DialectError, match="WHEN clause"):
        parse_merge("MERGE INTO t USING s ON t.id = s.id")
    with pytest.raises(DialectError, match="lengths differ"):
        parse_merge(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (a, b) VALUES (1)"
        )


# -- one engine, two shapes ---------------------------------------------------
# keyed_update, upsert and SQL MERGE all run through MergeBuilder.execute,
# which picks the driver shape (bounded Arrow collect, broadcast-left
# rewrite, driver-side insert file) or the distributed shape (stats
# aggregate, outer-join rewrite) from the source. Every case runs on both
# shapes against a dict model {key: (v, tag)}; forcing _DRIVER_SOURCE_ROWS
# to 0 sends every source down the distributed shape.

KV_TYPES = {"long": T.LongType(), "string": T.StringType(), "double": T.DoubleType()}


def _key(kind, i):
    if i is None:
        return None
    return {"long": i, "string": f"k{i:02d}", "double": i + 0.5}[kind]


def _kv_schema(kind, extra=()):
    return T.StructType(
        [
            T.StructField("k", KV_TYPES[kind]),
            T.StructField("v", T.LongType()),
            T.StructField("tag", T.StringType()),
            *extra,
        ]
    )


TARGET = {1: (10, "a"), 2: (20, "b"), 3: (30, "c"), 4: (40, "d")}
# (key, v, tag, order): NULL key, NULL value, duplicate keys resolved by
# `o`, matched and unmatched keys
KEYED_SOURCE = [
    (2, 21, "b1", 1),
    (2, 22, "b2", 3),
    (2, 23, "b3", 2),
    (3, None, "c1", 1),
    (None, 99, "null-key", 9),
    (7, 70, "g", 1),
    (7, 71, "g2", 2),
]
# unique keys for the SQL statements (duplicate matches raise there)
MERGE_SOURCE = [(1, -5, "del"), (2, None, "b1"), (3, 31, "c1"), (7, 70, "g"), (8, 8, "h")]


def _latest(rows):
    out = {}
    for k, v, tag, o in sorted(
        (r for r in rows if r[0] is not None), key=lambda r: r[3]
    ):
        out[k] = (v, tag)
    return out


def _model_keyed_update(tgt, src):
    return {k: _latest(src).get(k, row) for k, row in tgt.items()}


def _model_upsert(tgt, src):
    return {**tgt, **_latest(src)}


def _model_update_delete_insert(tgt, src):
    out = dict(tgt)
    for k, v, tag in src:
        if k in tgt:
            if v is not None and v < 0:
                del out[k]
            else:
                out[k] = (v, tag)
        else:
            out[k] = (v, tag)
    return out


def _model_by_source(tgt, src):
    keys = {r[0] for r in src}
    out = {k: row for k, row in tgt.items() if k in keys or row[0] <= 20}
    for k, v, _tag in src:
        if k in tgt:
            out[k] = (v, tgt[k][1])
    return out


def _model_conditional_insert(tgt, src):
    out = dict(tgt)
    for k, v, tag in src:
        if k not in tgt and v is not None and v > 10:
            out[k] = (v, tag)
    return out


def _model_values_insert(tgt, src):
    out = dict(tgt)
    for k, v, tag in src:
        if k in tgt:
            old = tgt[k][0]
            out[k] = (None if v is None else old + v, tgt[k][1])
        else:
            out[k] = (None if v is None else v * 10, f"new-{tag}")
    return out


MERGE_SQL = {
    "update_delete_insert": """
        MERGE INTO kv AS t USING src AS s ON t.k = s.k
        WHEN MATCHED AND s.v < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag
        WHEN NOT MATCHED THEN INSERT *""",
    "by_source": """
        MERGE INTO kv AS t USING src AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED BY SOURCE AND t.v > 20 THEN DELETE""",
    "conditional_insert": """
        MERGE INTO kv AS t USING src AS s ON t.k = s.k
        WHEN NOT MATCHED AND s.v > 10 THEN INSERT (k, v, tag)
            VALUES (s.k, s.v, s.tag)""",
    "values_insert": """
        MERGE INTO kv AS t USING src AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = t.v + s.v
        WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v * 10, CONCAT('new-', s.tag))""",
}

MODEL_CASES = [
    ("keyed_update", "long", _model_keyed_update),
    ("keyed_update", "string", _model_keyed_update),
    ("upsert", "long", _model_upsert),
    ("upsert", "double", _model_upsert),
    ("upsert", "string", _model_upsert),
    ("update_delete_insert", "long", _model_update_delete_insert),
    ("by_source", "string", _model_by_source),
    ("conditional_insert", "double", _model_conditional_insert),
    ("values_insert", "long", _model_values_insert),
]


@pytest.mark.parametrize("shape", ["driver", "distributed"])
@pytest.mark.parametrize(
    "case,kind,model", MODEL_CASES, ids=[f"{c}-{k}" for c, k, _m in MODEL_CASES]
)
def test_writers_match_dict_model_on_both_shapes(
    spark, tmp_path, monkeypatch, shape, case, kind, model
):
    import sparketl.tables as tables

    if shape == "distributed":
        monkeypatch.setattr(tables, "_DRIVER_SOURCE_ROWS", 0)
    shapes = []
    collect = tables._collect_bounded

    def spy(df, max_rows):
        out = collect(df, max_rows)
        shapes.append("driver" if out is not None else "distributed")
        return out

    monkeypatch.setattr(tables, "_collect_bounded", spy)
    t = ManagedTable(spark, str(tmp_path / "kv"))
    t.create(_kv_schema(kind))
    t.append(
        spark.createDataFrame(
            [(_key(kind, k), v, tag) for k, (v, tag) in TARGET.items()],
            _kv_schema(kind),
        )
    )
    keyed = case in ("keyed_update", "upsert")
    rows = KEYED_SOURCE if keyed else MERGE_SOURCE
    src = spark.createDataFrame(
        [(_key(kind, r[0]), *r[1:]) for r in rows],
        _kv_schema(kind, [T.StructField("o", T.LongType())] if keyed else []),
    )
    if case == "keyed_update":
        t.keyed_update(src, "k", set_columns=["v", "tag"], order_by="o")
    elif case == "upsert":
        t.upsert(src, "k", order_by="o")
    else:
        eng = Engine(spark, saved_queries_path=str(tmp_path / "q.json"))
        eng.register_managed("kv", t)
        src.createOrReplaceTempView("src")
        eng.execute(MERGE_SQL[case])
    want = {
        _key(kind, k): row
        for k, row in model(TARGET, [r[:3] if not keyed else r for r in rows]).items()
    }
    got = {r["k"]: (r["v"], r["tag"]) for r in t.read().collect()}
    assert len(got) == t.read().count()  # no duplicated rows
    assert got == want
    # the shape asked for is the one taken; a double key never fits the
    # driver shape
    if shape == "driver" and kind != "double":
        assert shapes == ["driver"]
    else:
        assert "driver" not in shapes
        assert not any("part-local-" in f for f in t.data_files())


@pytest.mark.parametrize("shape", ["driver", "distributed"])
def test_duplicate_match_raises_on_both_shapes(spark, tmp_path, monkeypatch, shape):
    import sparketl.tables as tables

    if shape == "distributed":
        monkeypatch.setattr(tables, "_DRIVER_SOURCE_ROWS", 0)
    t = make(spark, tmp_path / "t")
    dup = spark.createDataFrame([(2, "x", 1.0), (2, "y", 2.0), (9, "z", 3.0)], SCHEMA)
    with pytest.raises(TableError, match="more than once"):
        (
            t.merge(dup, "target.id = source.id")
            .when_matched_update({"bal": "source.bal"})
            .when_not_matched_insert()
            .execute()
        )
    assert state(t) == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]


# -- the driver shape's evidence --------------------------------------------


def _shuffle_write_bytes(spark, run):
    """Shuffle bytes written by every job ``run()`` starts, read from
    Spark's status store once the listener bus has drained."""
    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()

    def job_ids():
        jobs = store.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    before = job_ids()
    run()
    sc.listenerBus().waitUntilEmpty(10_000)
    total = 0
    new = job_ids() - before
    assert new, "the commit ran no Spark job"
    for jid in new:
        it = store.job(jid).stageIds().iterator()
        while it.hasNext():
            total += store.lastStageAttempt(it.next()).shuffleWriteBytes()
    return total


def test_driver_shape_commits_without_shuffle(spark, tmp_path):
    """A driver-sized upsert and a driver-sized SQL MERGE with an insert
    clause each commit with zero shuffle-write bytes: the bounded collect,
    the broadcast-left rewrite and the driver-side insert file shuffle
    nothing. The sources are single-partition batches, as a worksheet or
    micro-batch is; a multi-partition source adds the bounded collect's
    one single-partition gather."""
    t = make(spark, tmp_path / "t")
    src = spark.createDataFrame(
        [(2, "B", 20.0), (2, "B2", 21.0), (9, "i", 9.0), (None, "n", 0.0)],
        "id long, name string, bal double",
    ).coalesce(1)
    assert _shuffle_write_bytes(spark, lambda: t.upsert(src, "id")) == 0
    eng = Engine(spark, saved_queries_path=str(tmp_path / "q.json"))
    eng.register_managed("accounts", t)
    spark.createDataFrame(
        [(3, "C", 30.0), (11, "k", 11.0)], SCHEMA
    ).coalesce(1).createOrReplaceTempView("chg")
    sql = (
        "MERGE INTO accounts AS t USING chg AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET bal = s.bal "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert _shuffle_write_bytes(spark, lambda: eng.execute(sql)) == 0
    assert state(t) == [
        (1, "a", 1.0),
        (2, "B2", 21.0),
        (3, "c", 30.0),
        (9, "i", 9.0),
        (11, "k", 11.0),
    ]


LIMIT_CONF = "spark.sql.limit.initialNumPartitions"


def test_limit_conf_is_not_session_wide(spark):
    assert spark.sparkContext.getConf().get(LIMIT_CONF) is None
    assert LIMIT_CONF not in spark.conf.getAll


@pytest.mark.parametrize("preset", [None, "3"])
def test_collect_bounded_one_job_and_conf_untouched(spark, preset):
    from sparketl.tables import _collect_bounded

    if preset is not None:
        spark.conf.set(LIMIT_CONF, preset)
    sc = spark.sparkContext
    try:
        df = spark.range(0, 5_000, 1, 8)
        group = f"collect-bounded-{preset}"
        sc.setJobGroup(group, "bounded collect")
        try:
            tbl = _collect_bounded(df, 4_000)
            assert tbl is None
            tbl = _collect_bounded(df, 5_000)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert tbl.num_rows == 5_000
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
        assert spark.conf.get(LIMIT_CONF, None) == preset
    finally:
        spark.conf.unset(LIMIT_CONF)


# -- local frames and the estimated shape -------------------------------------
# Status-store checks: frames the driver builds on the commit path are
# local relations (no job to read them), and a source Catalyst sizes
# above _DRIVER_SOURCE_ROWS skips the driver shape's bounded collect.


def _job_names(spark, fn):
    """Run ``fn`` and return (its result, the names of the Spark jobs it
    started), read from the status tracker under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"test-merge-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "test_merge")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = sc._jsc.sc().statusStore()
    return out, [store.job(j).name() for j in sc.statusTracker().getJobIdsForGroup(group)]


def test_merge_result_and_empty_frames_run_no_jobs(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    eng = Engine(spark, saved_queries_path=str(tmp_path / "q.json"))
    eng.register_managed("accounts", t)
    spark.createDataFrame([(3, "C", 30.0)], SCHEMA).createOrReplaceTempView("chg")
    res = eng.execute(
        "MERGE INTO accounts AS t USING chg AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET bal = s.bal"
    )
    rows, jobs = _job_names(spark, res.collect)
    assert rows[0]["version"] == t.history()[-1] and jobs == []

    empty = ManagedTable(spark, str(tmp_path / "empty"))
    empty.create(SCHEMA)
    for df in (empty.read(), empty.read(where="id > 1"), empty.diff(1)):
        rows, jobs = _job_names(spark, df.collect)
        assert rows == [] and jobs == []
    v = t.set_properties({"note": "x"})  # no data files change
    rows, jobs = _job_names(spark, t.diff(v - 1, v).collect)
    assert rows == [] and jobs == []
    assert t.diff(v - 1, v).columns == [*SCHEMA.fieldNames(), "_change"]


def test_diff_with_one_empty_side_is_that_side(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    v_app = t.append(spark.createDataFrame([(4, "d", 4.0)], SCHEMA))
    assert sorted(tuple(r) for r in t.diff(v_app - 1).collect()) == [
        (4, "d", 4.0, "insert")
    ]
    t.delete_where("id >= 0")  # every file removed, none added
    assert sorted(tuple(r)[0::3] for r in t.diff(v_app).collect()) == [
        (1, "delete"), (2, "delete"), (3, "delete"), (4, "delete")
    ]


def _shapes(monkeypatch):
    """Record what each bounded collect returned: 'driver' for a table,
    'distributed' for an over-bound probe."""
    import sparketl.tables as tables

    shapes = []
    collect = tables._collect_bounded

    def spy(df, max_rows):
        out = collect(df, max_rows)
        shapes.append("driver" if out is not None else "distributed")
        return out

    monkeypatch.setattr(tables, "_collect_bounded", spy)
    return shapes


def test_local_source_over_the_bound_skips_the_probe(spark, tmp_path, monkeypatch):
    import pandas as pd

    import sparketl.tables as tables

    shapes = _shapes(monkeypatch)
    t = make(spark, tmp_path / "t")
    n = tables._DRIVER_SOURCE_ROWS + 1
    src = spark.createDataFrame(
        pd.DataFrame({"id": range(n), "name": "x", "bal": 1.0})
    )
    assert tables.MergeBuilder(t, src, "")._estimated_rows() == n
    _, jobs = _job_names(spark, lambda: t.upsert(src, "id"))
    assert shapes == [] and not any(j.startswith("toArrow") for j in jobs)
    assert not any("part-local-" in f for f in t.data_files())
    assert t.read().count() == n
    assert sorted(tuple(r) for r in t.read(where="id < 2").collect()) == [
        (0, "x", 1.0), (1, "x", 1.0)
    ]


def test_list_source_within_the_bound_takes_the_driver_shape(spark, tmp_path, monkeypatch):
    import sparketl.tables as tables

    shapes = _shapes(monkeypatch)
    t = make(spark, tmp_path / "t")
    src = spark.createDataFrame([(2, "B", 20.0), (9, "i", 9.0)], SCHEMA)
    assert tables.MergeBuilder(t, src, "")._estimated_rows() is None  # a Python RDD
    t.upsert(src, "id")
    assert shapes == ["driver"]
    assert state(t) == [(1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0), (9, "i", 9.0)]


def test_underestimated_parquet_source_falls_back_through_the_probe(
    spark, tmp_path, monkeypatch
):
    import sparketl.tables as tables

    monkeypatch.setattr(tables, "_DRIVER_SOURCE_ROWS", 3_000)
    shapes = _shapes(monkeypatch)
    t = make(spark, tmp_path / "t")
    path = str(tmp_path / "src.parquet")
    spark.range(5_000).selectExpr("id", "'x' AS name", "1.0D AS bal").coalesce(
        1
    ).write.parquet(path)
    src = spark.read.parquet(path)
    # compressed parquet bytes over the row width undercount the rows
    assert tables.MergeBuilder(t, src, "")._estimated_rows() <= 3_000
    t.upsert(src, "id")
    assert shapes == ["distributed"]
    assert t.read().count() == 5_000


def test_sql_merge_case_expressions(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    eng = Engine(spark, saved_queries_path=str(tmp_path / "q.json"))
    eng.register_managed("accounts", t)
    spark.createDataFrame(
        [(1, "a", -1.0), (2, "b", 5.0), (3, "c", 0.5)], SCHEMA
    ).createOrReplaceTempView("chg")
    eng.execute(
        "MERGE INTO accounts AS t USING chg AS s ON t.id = s.id "
        "WHEN MATCHED AND CASE WHEN s.bal > 1 THEN 'big' ELSE 'small' END = 'small' "
        "THEN UPDATE SET bal = CASE WHEN s.bal > 0 THEN s.bal ELSE 0 END"
    )
    assert state(t) == [(1, "a", 0.0), (2, "b", 2.0), (3, "c", 0.5)]


@pytest.mark.parametrize(
    "rows,key",
    # an empty source passes the bounded probe, so it takes a double key,
    # which no bound lets into the driver shape
    [([(2, "B", 20.0), (9, "i", 9.0)], "id"), ([], "bal")],
)
def test_distributed_upsert_reads_key_stats_without_an_aggregate(
    spark, tmp_path, monkeypatch, rows, key
):
    import sparketl.tables as tables

    monkeypatch.setattr(tables, "_DRIVER_SOURCE_ROWS", 0)
    shapes = _shapes(monkeypatch)
    t = make(spark, tmp_path / "t")
    src = spark.createDataFrame(rows, SCHEMA)
    _, jobs = _job_names(spark, lambda: t.upsert(src, key))
    assert shapes in ([], ["distributed"])
    assert not any(j.startswith("first") for j in jobs), jobs
    expect = {1: (1, "a", 1.0), 2: (2, "b", 2.0), 3: (3, "c", 3.0)}
    expect.update({r[0]: r for r in rows})
    assert state(t) == sorted(expect.values())
    # a general MERGE cannot assume unique keys and keeps its aggregate
    _, jobs = _job_names(
        spark,
        lambda: t.merge(src, f"target.{key} = source.{key}")
        .when_matched_update({"name": "source.name"})
        .execute(),
    )
    assert any(j.startswith("first") for j in jobs), jobs


@pytest.mark.parametrize(
    "key_type,keys", [(T.StringType(), ["1", "01"]), (T.DoubleType(), [1.2, 1.7])]
)
def test_distributed_upsert_keys_merged_by_the_cast_raise(
    spark, tmp_path, monkeypatch, key_type, keys
):
    """Source keys distinct in their own type become one key in the
    table's once upsert casts them. Both then match target row 1 and
    the commit raises the duplicate match error rather than writing
    that row twice."""
    import sparketl.tables as tables

    monkeypatch.setattr(tables, "_DRIVER_SOURCE_ROWS", 0)
    t = make(spark, tmp_path / "t")
    schema = T.StructType([T.StructField("id", key_type), *SCHEMA.fields[1:]])
    src = spark.createDataFrame([(k, "x", 9.0) for k in keys], schema)
    with pytest.raises(TableError, match="more than once"):
        t.upsert(src, "id")
    assert state(t) == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]
