import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from sparketl.tables import ManagedTable, TableError

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("bal", T.DoubleType(), True),
    ]
)


def _rows(table):
    return sorted(tuple(r) for r in table.read().collect())


def make(spark, root):
    t = ManagedTable(spark, root)
    t.create(SCHEMA, properties={"primary_key": "id"})
    return t


def test_create_read_empty(spark, tmp_table_root):
    t = make(spark, tmp_table_root)
    assert t.read().count() == 0
    assert t.primary_key() == ["id"]


def test_create_twice_fails(spark, tmp_table_root):
    t = make(spark, tmp_table_root)
    with pytest.raises(TableError):
        t.create(SCHEMA)


def test_append_accumulates_and_versions(spark, tmp_table_root):
    t = make(spark, tmp_table_root)
    df1 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    df2 = spark.createDataFrame([(3, "c", 3.0)], SCHEMA)
    v1 = t.append(df1)
    v2 = t.append(df2)
    assert v2 == v1 + 1
    assert _rows(t) == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]
    # time travel: previous version still readable
    assert t.read(version=v1).count() == 2
    assert t.history() == [1, v1, v2]


def test_keyed_update_semantics(spark, tmp_table_root):
    """The §3.3 contract: null-id skip, update-only, last-write-wins."""
    t = make(spark, tmp_table_root)
    t.append(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], SCHEMA))
    src = spark.createDataFrame(
        [
            (1, "a1", 10.0),   # normal update
            (None, "zz", 0.0), # null id -> silently skipped (tool:295-297)
            (9, "no", 9.0),    # no target match -> dropped (update-only)
            (2, "b1", 20.0),   # first write for id=2 ...
            (2, "b2", 21.0),   # ... duplicate: LAST wins (source order)
        ],
        "id long, name string, bal double",
    )
    t.keyed_update(src, "id")
    assert _rows(t) == [(1, "a1", 10.0), (2, "b2", 21.0), (3, "c", 3.0)]


def test_keyed_update_unknown_column(spark, tmp_table_root):
    t = make(spark, tmp_table_root)
    t.append(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    src = spark.createDataFrame([(1, "x")], "id long, nope string")
    with pytest.raises(TableError):
        t.keyed_update(src, "id")


def test_keyed_update_partial_columns(spark, tmp_table_root):
    t = make(spark, tmp_table_root)
    t.append(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    src = spark.createDataFrame([(1, 99.0)], "id long, bal double")
    t.keyed_update(src, "id", ["bal"])
    assert _rows(t) == [(1, "a", 99.0)]  # name untouched


def test_delete_where(spark, tmp_table_root):
    t = make(spark, tmp_table_root)
    t.append(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA))
    t.delete_where("bal > 1.5")
    assert _rows(t) == [(1, "a", 1.0)]


def test_overwrite(spark, tmp_table_root):
    t = make(spark, tmp_table_root)
    t.append(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    t.overwrite(spark.createDataFrame([(5, "e", 5.0)], SCHEMA))
    assert _rows(t) == [(5, "e", 5.0)]


def test_delete_where_null_predicate_keeps_rows(spark, tmp_table_root):
    # SQL DELETE only removes rows where the predicate is TRUE; a NULL
    # predicate (here: bal IS NULL) must leave the row in place.
    t = make(spark, tmp_table_root)
    t.append(spark.createDataFrame([(1, "a", 1.0), (2, "b", None), (3, "c", 9.0)], SCHEMA))
    t.delete_where("bal > 1.5")
    assert _rows(t) == [(1, "a", 1.0), (2, "b", None)]


def test_keyed_update_explicit_order(spark, tmp_table_root):
    # With an explicit order column, last-write-wins follows it even if
    # the physical row order disagrees (e.g. after a shuffle).
    t = make(spark, tmp_table_root)
    t.append(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    src = spark.createDataFrame(
        [(1, "late", 9.0, 2), (1, "early", 5.0, 1)],
        "id long, name string, bal double, seq long",
    )
    t.keyed_update(src, "id", ["name", "bal"], order_by="seq")
    assert _rows(t) == [(1, "late", 9.0)]


def test_keyed_update_order_column_missing(spark, tmp_table_root):
    t = make(spark, tmp_table_root)
    t.append(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    src = spark.createDataFrame([(1, "x", 2.0)], SCHEMA)
    with pytest.raises(TableError):
        t.keyed_update(src, "id", order_by="nope")


def test_diff_append_only_inserts(spark, tmp_table_root):
    t = make(spark, tmp_table_root)  # v1: empty
    t.append(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))  # v2
    t.append(spark.createDataFrame([(2, "b", 2.0)], SCHEMA))  # v3
    d = t.diff(2, 3).collect()
    assert [(r["id"], r["_change"]) for r in d] == [(2, "insert")]
    # full-history diff sees both appends
    assert sorted((r["id"], r["_change"]) for r in t.diff(1).collect()) == [
        (1, "insert"),
        (2, "insert"),
    ]


def test_diff_update_is_delete_plus_insert(spark, tmp_table_root):
    t = make(spark, tmp_table_root)
    t.append(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA))  # v2
    src = spark.createDataFrame([(1, "a2", 9.0)], SCHEMA)
    t.keyed_update(src, "id")  # v3: rewrite
    d = sorted((r["id"], r["name"], r["_change"]) for r in t.diff(2, 3).collect())
    assert d == [(1, "a", "delete"), (1, "a2", "insert")]


def _n_files(table):
    return len(table._manifest()["files"])


def test_compact_reduces_files_keeps_data(spark, tmp_table_root):
    t = make(spark, tmp_table_root)
    for i in range(6):
        t.append(spark.createDataFrame([(i, f"n{i}", float(i))], SCHEMA))
    before = _rows(t)
    assert _n_files(t) >= 6
    v_pre = t._current_version()
    t.compact(target_partitions=2)
    assert _n_files(t) <= 2
    assert _rows(t) == before
    # time travel: the pre-compaction snapshot is still readable
    assert sorted(tuple(r) for r in t.read(v_pre).collect()) == before


def test_compact_sorted_layout_is_range_disjoint(spark, tmp_table_root):
    t = make(spark, tmp_table_root)
    import random

    ids = list(range(40))
    random.Random(7).shuffle(ids)
    for chunk in (ids[:20], ids[20:]):
        t.append(
            spark.createDataFrame([(i, "x", 0.0) for i in chunk], SCHEMA)
        )
    t.compact(target_partitions=4, sort_by=["id"])
    files = t._manifest()["files"]
    assert len(files) <= 4
    spans = []
    for f in files:
        vals = [r["id"] for r in spark.read.schema(SCHEMA).parquet(f).collect()]
        if vals:
            spans.append((min(vals), max(vals)))
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo  # ranges disjoint → footer stats prune id filters
    assert _rows(t) == sorted((i, "x", 0.0) for i in range(40))


def test_vacuum_reclaims_unreferenced_files(spark, tmp_table_root):
    import os

    t = make(spark, tmp_table_root)
    for i in range(4):
        t.append(spark.createDataFrame([(i, "a", 1.0)], SCHEMA))
    before = _rows(t)
    t.compact(target_partitions=1)
    removed = t.vacuum(keep_versions=1)
    assert removed >= 4
    assert _rows(t) == before  # live snapshot untouched
    assert t.history() == [t._current_version()]
    # every file the live manifest references still exists
    assert all(os.path.exists(f) for f in t._manifest()["files"])
    with pytest.raises(FileNotFoundError):
        t.read(1)


def test_vacuum_requires_keep(spark, tmp_table_root):
    t = make(spark, tmp_table_root)
    with pytest.raises(TableError):
        t.vacuum(keep_versions=0)


def test_incremental_agg_matches_full_recompute(spark, tmp_table_root):
    from pyspark.sql import functions as F

    from sparketl.tables import incremental_agg

    t = make(spark, tmp_table_root)
    t.append(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0)], SCHEMA
        )
    )
    v0 = t._current_version()

    def full(df):
        return df.groupBy("name").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("bal").cast("decimal(20,2)")).alias("bal_sum"),
        )

    prev = full(t.read())

    # mutate: append to 'a', delete one 'a' row, update the 'b' row
    t.append(spark.createDataFrame([(4, "a", 40.0)], SCHEMA))
    t.delete_where("id = 2")
    t.keyed_update(spark.createDataFrame([(3, "b", 7.5)], SCHEMA), "id")

    got = incremental_agg(
        t, prev, v0, ["name"], count_col="n", sum_col="bal_sum", sum_expr="bal"
    )
    want = full(t.read())
    g = sorted((r["name"], r["n"], float(r["bal_sum"])) for r in got.collect())
    w = sorted((r["name"], r["n"], float(r["bal_sum"])) for r in want.collect())
    assert g == w == [("a", 2, 50.0), ("b", 1, 7.5)]


def test_incremental_join_agg_matches_full_recompute(spark, tmp_path):
    """Join-view maintenance (counting algorithm) across one batch of
    append + keyed update + delete on BOTH sides, including a dim
    update that MOVES rows between groups: the incrementally
    maintained per-group aggregate of A ⋈ B must equal a full
    recompute."""
    from pyspark.sql import functions as F

    from sparketl.tables import ManagedTable, incremental_join_agg

    fact_schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("k", T.LongType(), True),
            T.StructField("amt", T.DoubleType(), True),
        ]
    )
    dim_schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("grp", T.StringType(), True),
        ]
    )
    a = ManagedTable(spark, str(tmp_path / "fact"))
    a.create(fact_schema, properties={"primary_key": "id"})
    b = ManagedTable(spark, str(tmp_path / "dim"))
    b.create(dim_schema, properties={"primary_key": "k"})
    a.append(
        spark.createDataFrame(
            [(1, 10, 5.0), (2, 10, 7.0), (3, 20, 1.0), (4, 30, 2.0)],
            fact_schema,
        )
    )
    b.append(
        spark.createDataFrame([(10, "x"), (20, "y"), (30, "y")], dim_schema)
    )
    va, vb = a._current_version(), b._current_version()

    def full():
        return (
            a.read()
            .join(b.read(), "k")
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("amt").cast("decimal(20,2)")).alias("amt_sum"),
            )
        )

    prev = full()
    prev.collect()  # pin the pre-batch aggregate before mutating

    # fact side: append a row, delete one, update another's amount
    a.append(spark.createDataFrame([(5, 20, 9.0)], fact_schema))
    a.delete_where("id = 2")
    a.keyed_update(spark.createDataFrame([(1, 10, 6.0)], fact_schema), "id")
    # dim side: update k=30 into group 'x' (group move), delete k=20
    # (its fact rows leave the view), insert k=40 (no fact rows yet)
    b.keyed_update(spark.createDataFrame([(30, "x")], dim_schema), "k")
    b.delete_where("k = 20")
    b.append(spark.createDataFrame([(40, "z")], dim_schema))

    got = incremental_join_agg(
        a, b, prev, va, vb, "k", ["grp"],
        count_col="n", sum_col="amt_sum", sum_expr="amt",
    )
    g = sorted((r["grp"], r["n"], float(r["amt_sum"])) for r in got.collect())
    w = sorted(
        (r["grp"], r["n"], float(r["amt_sum"])) for r in full().collect()
    )
    assert g == w == [("x", 2, 8.0)]


def test_incremental_extremum_rescans_only_affected_groups(spark, tmp_table_root):
    """MIN maintenance across every delta class: a non-extremum delete
    keeps the stored min (no rescan), an extremum delete triggers the
    group-targeted rescan, inserts tighten for free, a new group
    appears, and a fully-deleted group drops out."""
    from pyspark.sql import functions as F

    from sparketl.tables import incremental_extremum

    t = make(spark, tmp_table_root)
    t.append(
        spark.createDataFrame(
            [
                (1, "a", 5.0), (2, "a", 9.0),     # a: min 5
                (3, "b", 2.0), (4, "b", 7.0),     # b: min 2
                (5, "c", 4.0),                     # c: min 4 (will vanish)
                (6, "d", 8.0),                     # d: min 8 (untouched)
            ],
            SCHEMA,
        )
    )
    v0 = t._current_version()
    prev = t.read().groupBy("name").agg(F.min("bal").alias("min_bal"))
    prev.collect()

    t.delete_where("id = 2")      # a: non-extremum delete -> min stays 5
    t.delete_where("id = 3")      # b: EXTREMUM delete -> rescan -> 7
    t.delete_where("id = 5")      # c: group vanishes
    t.append(
        spark.createDataFrame(
            [(7, "a", 1.0), (8, "e", 3.0)], SCHEMA  # a tightens; e is new
        )
    )

    got = incremental_extremum(t, prev, v0, ["name"], "bal", agg="min",
                               out_col="min_bal")
    g = sorted((r["name"], float(r["min_bal"])) for r in got.collect())
    want = sorted(
        (r["name"], float(r["min_bal"]))
        for r in t.read().groupBy("name")
        .agg(F.min("bal").alias("min_bal")).collect()
    )
    assert g == want == [("a", 1.0), ("b", 7.0), ("d", 8.0), ("e", 3.0)]
    # max variant: delete the max of 'a' (id 1 holds 5.0 after... use fresh check)
    prev_max = t.read().groupBy("name").agg(F.max("bal").alias("max_bal"))
    prev_max.collect()
    v1 = t._current_version()
    t.delete_where("id = 4")      # b's only row (7.0) -> group drops
    t.append(spark.createDataFrame([(9, "d", 20.0)], SCHEMA))
    got2 = incremental_extremum(t, prev_max, v1, ["name"], "bal",
                                agg="max", out_col="max_bal")
    g2 = sorted((r["name"], float(r["max_bal"])) for r in got2.collect())
    want2 = sorted(
        (r["name"], float(r["max_bal"]))
        for r in t.read().groupBy("name")
        .agg(F.max("bal").alias("max_bal")).collect()
    )
    assert g2 == want2 and ("b", 7.0) not in g2


def test_incremental_extremum_null_extremum_group_deleted(spark, tmp_table_root):
    """A group whose stored extremum is NULL (all values NULL) beats
    nothing under three-valued `<=`, so it must be routed to the
    rescan explicitly on any delete — deleting its last rows has to
    DROP the group, not leave a stale (group, NULL) row (r10 advisor
    finding)."""
    from pyspark.sql import functions as F

    from sparketl.tables import incremental_extremum

    t = make(spark, tmp_table_root)
    t.append(
        spark.createDataFrame(
            [(1, "nulls", None), (2, "nulls", None), (3, "ok", 4.0)],
            SCHEMA,
        )
    )
    v0 = t._current_version()
    prev = t.read().groupBy("name").agg(F.min("bal").alias("min_bal"))
    prev.collect()

    t.delete_where("name = 'nulls'")  # group vanishes entirely
    got = incremental_extremum(t, prev, v0, ["name"], "bal", agg="min",
                               out_col="min_bal")
    rows = [(r["name"], r["min_bal"]) for r in got.collect()]
    assert rows == [("ok", 4.0)]  # no stale ('nulls', None) row

    # partial delete of a NULL-extremum group: group survives, still NULL
    t2 = ManagedTable(spark, str(tmp_table_root) + "_2")
    t2.create(SCHEMA, properties={"primary_key": "id"})
    t2.append(
        spark.createDataFrame(
            [(1, "nulls", None), (2, "nulls", None)], SCHEMA
        )
    )
    v1 = t2._current_version()
    prev2 = t2.read().groupBy("name").agg(F.min("bal").alias("min_bal"))
    prev2.collect()
    t2.delete_where("id = 1")
    got2 = incremental_extremum(t2, prev2, v1, ["name"], "bal", agg="min",
                                out_col="min_bal")
    assert [(r["name"], r["min_bal"]) for r in got2.collect()] == [
        ("nulls", None)
    ]


def test_incremental_hll_registers_fold_and_delete_caveat(spark, tmp_table_root):
    """Driving real append batches through a ManagedTable: the
    register fold from the change feed equals a full recompute
    register-for-register, and — the documented caveat — a delete
    batch leaves the registers untouched (ever-seen NDV; max cannot
    shrink)."""
    from sparketl.operators.text import hll_registers
    from sparketl.tables import incremental_hll_registers

    def reg_rows(df):
        return sorted(
            (r["name"], r["idx"], r["m_reg"]) for r in df.collect()
        )

    t = make(spark, tmp_table_root)
    t.append(
        spark.createDataFrame(
            [(i, f"g{i % 2}", float(i % 17)) for i in range(40)], SCHEMA
        )
    )
    prev = hll_registers(t.read(), ["name"], "bal")
    prev.collect()  # pin the pre-batch registers before mutating
    v0 = t._current_version()

    t.append(
        spark.createDataFrame(
            [(100 + i, f"g{i % 3}", float(40 + i)) for i in range(30)],
            SCHEMA,
        )
    )
    got = incremental_hll_registers(t, prev, v0, ["name"], "bal")
    want = hll_registers(t.read(), ["name"], "bal")
    assert reg_rows(got) == reg_rows(want)  # fold ≡ recompute

    # NULL values are ignored (countDistinct semantics): a null-bal
    # append batch changes no register
    v_null = t._current_version()
    t.append(spark.createDataFrame([(900, "g0", None)], SCHEMA))
    got_n = incremental_hll_registers(t, got, v_null, ["name"], "bal")
    assert reg_rows(got_n) == reg_rows(got)

    # delete caveat: a delete-only span changes nothing (no inserts in
    # the feed), so the maintained registers still show ever-seen NDV
    maintained = got
    maintained.collect()
    v1 = t._current_version()
    t.delete_where("bal >= 40.0")
    got2 = incremental_hll_registers(t, maintained, v1, ["name"], "bal")
    assert reg_rows(got2) == reg_rows(maintained)
    # and they now OVER-cover the live table's recompute (never under)
    live_regs = {
        (r["name"], r["idx"]): r["m_reg"]
        for r in hll_registers(t.read(), ["name"], "bal").collect()
    }
    kept = {(n, i): m for n, i, m in reg_rows(got2)}
    assert all(kept.get(k, -1) >= m for k, m in live_regs.items())


def test_incremental_agg_group_disappears(spark, tmp_table_root):
    from pyspark.sql import functions as F

    from sparketl.tables import incremental_agg

    t = make(spark, tmp_table_root)
    t.append(spark.createDataFrame([(1, "solo", 1.0)], SCHEMA))
    v0 = t._current_version()
    prev = t.read().groupBy("name").agg(F.count(F.lit(1)).alias("n"))
    t.delete_where("id = 1")
    got = incremental_agg(t, prev, v0, ["name"], count_col="n")
    assert got.collect() == []  # zero-count groups are dropped


def test_file_skipping_prunes_and_matches_full_filter(spark, tmp_path):
    """Four sorted appends → four disjoint-range files; a range
    predicate must skip non-matching files at the manifest level while
    returning exactly filter()'s rows."""
    from sparketl.tables import ManagedTable

    tbl = ManagedTable(spark, str(tmp_path / "t"))
    first = spark.createDataFrame(
        [(i, float(i)) for i in range(25)], "id long, v double"
    ).coalesce(1)
    tbl.create(first.schema)
    for lo in range(0, 100, 25):
        batch = spark.createDataFrame(
            [(i, float(i)) for i in range(lo, lo + 25)], "id long, v double"
        ).coalesce(1)
        tbl.append(batch)

    all_files = tbl.candidate_files(None)
    assert len(all_files) == 4
    cand = tbl.candidate_files("v >= 80")
    assert len(cand) == 1  # only the 75..99 file can match
    got = sorted(r["id"] for r in tbl.read(where="v >= 80").collect())
    want = sorted(r["id"] for r in tbl.read().filter("v >= 80").collect())
    assert got == want == list(range(80, 100))
    # conjunction narrows further; equality hits one file
    assert len(tbl.candidate_files("v >= 30 AND v < 40")) == 1
    assert len(tbl.candidate_files("id = 50")) == 1
    # unparsable conjunct disables pruning for that conjunct only
    assert len(tbl.candidate_files("v >= 80 AND id % 2 = 0")) == 1
    assert len(tbl.candidate_files("id % 2 = 0")) == 4
    # predicate with no possible file → empty frame, correct schema
    assert tbl.read(where="v > 1000").count() == 0


def test_file_skipping_never_drops_matching_rows_with_nulls(spark, tmp_path):
    from sparketl.tables import ManagedTable

    tbl = ManagedTable(spark, str(tmp_path / "t"))
    a = spark.createDataFrame([(1, None), (2, 5.0)], "id long, v double").coalesce(1)
    b = spark.createDataFrame([(3, 50.0)], "id long, v double").coalesce(1)
    tbl.create(a.schema)
    tbl.append(a)
    tbl.append(b)
    assert {r["id"] for r in tbl.read(where="v > 10").collect()} == {3}
    assert {r["id"] for r in tbl.read(where="v <= 10").collect()} == {2}


def test_file_skipping_nan_rows_never_pruned_on_upper_ops(spark, tmp_path):
    """Spark orders NaN above every double, and its parquet writer
    records max=NaN for a NaN-containing file — so such a file must
    survive >, >=, = pruning for any literal, while min-driven < / <=
    pruning stays active."""
    from sparketl.tables import ManagedTable

    tbl = ManagedTable(spark, str(tmp_path / "t"))
    a = spark.createDataFrame(
        [(1, 1.0), (2, float("nan"))], "id long, v double"
    ).coalesce(1)
    b = spark.createDataFrame([(3, 50.0)], "id long, v double").coalesce(1)
    tbl.create(a.schema)
    tbl.append(a)
    tbl.append(b)
    # NaN sorts above 1000: the NaN file must NOT be pruned and the row
    # must come back (rows 2 and 3 match v > 10 under Spark semantics)
    assert len(tbl.candidate_files("v > 1000")) == 1  # only the NaN file
    assert {r["id"] for r in tbl.read(where="v > 10").collect()} == {2, 3}
    # = cannot prune the NaN file, but prunes file b on its real range
    assert len(tbl.candidate_files("v = 1")) == 1
    # lower-bound prune still fires: min of the NaN file is 1.0 (real)
    assert len(tbl.candidate_files("v < 1")) == 0
    assert {r["id"] for r in tbl.read(where="v <= 1").collect()} == {1}


def test_file_skipping_nan_in_later_row_group_not_pruned(spark, tmp_path):
    """Regression: stats must fold NaN-aware. (a) The footer read
    (``_collect_file_stats``, run for every file a commit adds) must
    fold multi-row-group footer stats under Spark's total order — a
    plain ``max()`` fold keeps the real value (``max(227.0, nan) ==
    227.0``), the pruner reads that as proof the file is NaN-free, and
    ``v > <anything above file max>`` silently drops the NaN rows.
    (b) A table append must record the same NaN-aware [real-min,
    NaN-max] for a NaN-tailed file and keep the file + its NaN rows
    reachable through the prune."""
    import math

    from sparketl.tables import ManagedTable, _collect_file_stats

    rows = [(i, float(i)) for i in range(280)] + [
        (i, float("nan")) for i in range(280, 300)
    ]
    df = spark.createDataFrame(rows, "id long, v double").coalesce(1)

    # (a) fold over a SPARK-written multi-row-group footer
    old_block = spark.conf.get("parquet.block.size", None)
    spark.conf.set("parquet.block.size", "1024")
    try:
        raw = str(tmp_path / "raw")
        df.write.mode("overwrite").parquet(raw)
    finally:
        if old_block is None:
            spark.conf.unset("parquet.block.size")
        else:
            spark.conf.set("parquet.block.size", old_block)
    import glob
    import pyarrow.parquet as pq

    (path,) = glob.glob(raw + "/*.parquet")
    md = pq.ParquetFile(path).metadata
    assert md.num_row_groups > 1
    first_rg = md.row_group(0).column(1).statistics
    assert not math.isnan(first_rg.max)  # NaN is NOT in the first group
    stats = _collect_file_stats(path)
    assert math.isnan(stats["v"][1])  # folded max keeps the NaN
    assert stats["v"][0] == 0.0  # folded min stays real

    # (b) table append: same NaN-aware file-level [min, max]
    tbl = ManagedTable(spark, str(tmp_path / "t"))
    tbl.create(df.schema)
    tbl.append(df)
    (f,) = tbl.candidate_files(None)
    mstats = tbl._manifest()["file_stats"][f]
    assert math.isnan(mstats["v"][1]) and mstats["v"][0] == 0.0

    # the prune must keep the file and the NaN rows must come back
    assert len(tbl.candidate_files("v > 200000")) == 1
    assert {r["id"] for r in tbl.read(where="v > 200000").collect()} == set(
        range(280, 300)
    )
    # = can no longer prune (NaN rows exist), < still prunes on real min
    assert len(tbl.candidate_files("v = 1000000")) == 1
    assert len(tbl.candidate_files("v < 0")) == 0


def test_string_stats_dropped_when_a_row_group_is_unbounded(spark, tmp_path):
    """Spark's writer leaves min/max out of a row group whose string
    exceeds 4 KiB. Folding only the other row groups would bound the
    file below that string and prune it away, so the column gets no
    file stats at all while the numeric column keeps its bounds."""
    import glob

    from sparketl.tables import _collect_file_stats

    long = "z" * 5000
    rows = [(i, f"a{i:04d}") for i in range(300)] + [(300, long)]
    df = spark.createDataFrame(rows, "k long, s string").coalesce(1)
    old_block = spark.conf.get("parquet.block.size", None)
    spark.conf.set("parquet.block.size", "1024")
    try:
        raw = str(tmp_path / "raw")
        df.write.mode("overwrite").parquet(raw)
        tbl = ManagedTable(spark, str(tmp_path / "t"))
        tbl.create(df.schema)
        tbl.append(df)
    finally:
        if old_block is None:
            spark.conf.unset("parquet.block.size")
        else:
            spark.conf.set("parquet.block.size", old_block)
    (path,) = glob.glob(raw + "/*.parquet")
    assert _collect_file_stats(path) == {"k": [0, 300]}
    assert len(tbl.candidate_files(f"s = '{long}'")) == 1
    assert [r["k"] for r in tbl.read(where=f"s = '{long}'").collect()] == [300]


def test_stat_folds_nan_totals_order():
    """Pure fold semantics: max is NaN-sticky; min ignores NaN unless
    every row group is all-NaN (Spark total order: NaN > every real)."""
    import math

    from sparketl.tables import _fold_max, _fold_min

    nan = float("nan")
    assert math.isnan(_fold_max(7.0, nan))
    assert math.isnan(_fold_max(nan, 7.0))
    assert _fold_max(3.0, 7.0) == 7.0
    assert _fold_min(nan, 5.0) == 5.0
    assert _fold_min(5.0, nan) == 5.0
    assert math.isnan(_fold_min(nan, nan))
    assert _fold_min(3.0, 7.0) == 3.0


def test_keyed_update_rewrites_only_matching_files(spark, tmp_path):
    """Delta-MERGE-style file pruning: an update whose source keys all
    land in one file's range must carry every other file into the new
    manifest unchanged (same paths), while the result still equals a
    full-table merge."""
    from sparketl.tables import ManagedTable

    tbl = ManagedTable(spark, str(tmp_path / "t"))
    first = spark.createDataFrame(
        [(i, float(i)) for i in range(25)], "id long, v double"
    ).coalesce(1)
    tbl.create(first.schema)
    for lo in range(0, 100, 25):
        tbl.append(
            spark.createDataFrame(
                [(i, float(i)) for i in range(lo, lo + 25)], "id long, v double"
            ).coalesce(1)
        )
    before = set(tbl.candidate_files(None))
    assert len(before) == 4

    src = spark.createDataFrame([(80, -1.0), (90, -2.0)], "id long, v double")
    tbl.keyed_update(src, key="id")
    after = set(tbl.candidate_files(None))
    # the three files outside [80, 90] survive by identity
    assert len(before & after) == 3
    got = {r["id"]: r["v"] for r in tbl.read().collect()}
    assert got[80] == -1.0 and got[90] == -2.0 and got[10] == 10.0
    assert len(got) == 100


def test_upsert_prunes_files_and_inserts_beyond_all_ranges(spark, tmp_path):
    """Upsert prunes on the source key range like keyed_update, and an
    all-new-key source (beyond every file's range → zero candidate
    files) must still write its inserts."""
    from sparketl.tables import ManagedTable

    tbl = ManagedTable(spark, str(tmp_path / "t"))
    first = spark.createDataFrame(
        [(i, float(i)) for i in range(25)], "id long, v double"
    ).coalesce(1)
    tbl.create(first.schema)
    for lo in range(0, 100, 25):
        tbl.append(
            spark.createDataFrame(
                [(i, float(i)) for i in range(lo, lo + 25)], "id long, v double"
            ).coalesce(1)
        )
    before = set(tbl.candidate_files(None))
    # mixed update+insert confined to the 75..99 file's range
    tbl.upsert(
        spark.createDataFrame([(80, -1.0), (150, 150.0)], "id long, v double"),
        key="id",
    )
    after = set(tbl.candidate_files(None))
    assert len(before & after) == 3  # 3 untouched files carried forward
    got = {r["id"]: r["v"] for r in tbl.read().collect()}
    assert got[80] == -1.0 and got[150] == 150.0 and len(got) == 101
    # all-new keys beyond every range: zero candidates, inserts survive
    prev = set(tbl.candidate_files(None))
    tbl.upsert(
        spark.createDataFrame([(500, 5.0), (501, 5.1)], "id long, v double"),
        key="id",
    )
    assert prev <= set(tbl.candidate_files(None))  # nothing rewritten
    got = {r["id"]: r["v"] for r in tbl.read().collect()}
    assert got[500] == 5.0 and got[501] == 5.1 and len(got) == 103


def test_delete_where_rewrites_only_matching_files(spark, tmp_path):
    from sparketl.tables import ManagedTable

    tbl = ManagedTable(spark, str(tmp_path / "t"))
    first = spark.createDataFrame(
        [(i, float(i)) for i in range(25)], "id long, v double"
    ).coalesce(1)
    tbl.create(first.schema)
    for lo in range(0, 100, 25):
        tbl.append(
            spark.createDataFrame(
                [(i, float(i)) for i in range(lo, lo + 25)], "id long, v double"
            ).coalesce(1)
        )
    before = set(tbl.candidate_files(None))
    tbl.delete_where("id >= 90")
    after = set(tbl.candidate_files(None))
    assert len(before & after) == 3  # only the 75..99 file was rewritten
    assert tbl.read().count() == 90
    # unprunable predicate still deletes correctly (full rewrite)
    tbl.delete_where("id % 10 = 0")
    assert tbl.read().count() == 81


def test_zorder_compact_prunes_both_dimensions(spark, tmp_path):
    """After zorder compaction, range predicates on EITHER column skip
    most files; after a linear x-sort, y predicates skip nothing."""
    import random

    from sparketl.tables import ManagedTable

    rng = random.Random(7)
    rows = [(i, rng.randrange(1000), rng.randrange(1000)) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, x long, y long")

    lin = ManagedTable(spark, str(tmp_path / "linear"))
    lin.create(df.schema)
    lin.append(df)
    lin.compact(target_partitions=16, sort_by=["x"])

    zo = ManagedTable(spark, str(tmp_path / "zorder"))
    zo.create(df.schema)
    zo.append(df)
    zo.compact(target_partitions=16, zorder_by=["x", "y"])

    pred = "y >= 0 AND y < 100"
    lin_cand = len(lin.candidate_files(pred))
    zo_cand = len(zo.candidate_files(pred))
    assert lin_cand == 16          # x-sort spreads y across every file
    assert zo_cand < 16 // 2       # z-order confines the y range
    # x predicates must still prune under z-order too
    assert len(zo.candidate_files("x >= 0 AND x < 100")) < 16 // 2
    # correctness: pruned read ≡ full filter on both layouts
    want = sorted(r["id"] for r in df.filter(pred).collect())
    assert sorted(r["id"] for r in zo.read(where=pred).collect()) == want
    assert sorted(r["id"] for r in lin.read(where=pred).collect()) == want


def test_zorder_requires_two_columns(spark, tmp_path):
    import pytest

    from sparketl.tables import ManagedTable, TableError

    tbl = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(1, 2, 3)], "a long, b long, c long")
    tbl.create(df.schema)
    tbl.append(df)
    with pytest.raises(TableError):
        tbl.compact(zorder_by=["a"])


def test_concurrent_appends_never_lose_a_batch(spark, tmp_path):
    """Optimistic concurrency: racing appends rebase onto the winner's
    manifest instead of clobbering it — every batch must survive, with
    one version per append, whichever interleaving the scheduler picks."""
    import threading

    from sparketl.tables import ManagedTable

    root = str(tmp_path / "t")
    tbl = ManagedTable(spark, root)
    first = spark.createDataFrame([(0, 0.0)], "id long, v double")
    tbl.create(first.schema)

    n_writers, errors = 6, []

    def write(i: int) -> None:
        try:
            # each writer gets its OWN table handle (separate snapshot
            # state), as two jobs on a shared filesystem would
            ManagedTable(spark, root).append(
                spark.createDataFrame(
                    [(i * 10 + k, float(i)) for k in range(5)],
                    "id long, v double",
                ).coalesce(1)
            )
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=write, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert tbl.read().count() == n_writers * 5
    assert {r["id"] for r in tbl.read().collect()} == {
        i * 10 + k for i in range(n_writers) for k in range(5)
    }
    # one version per append on top of the create
    assert tbl._current_version() == 1 + n_writers


def test_stale_rewrite_raises_concurrent_write_error(spark, tmp_path):
    """A rewrite (overwrite/update/delete) committing against a stale
    snapshot must fail loudly, not silently drop the interleaved
    append — the caller re-runs against the new snapshot."""
    import pytest as _pytest

    from sparketl.tables import ConcurrentWriteError, ManagedTable

    root = str(tmp_path / "t")
    a, b = ManagedTable(spark, root), ManagedTable(spark, root)
    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    a.create(df.schema)
    a.append(df)
    m_stale = a._manifest()  # snapshot at v2
    # interleaved commit by another writer
    b.append(spark.createDataFrame([(2, 2.0)], "id long, v double"))
    # a rewrite based on the stale snapshot must refuse
    with _pytest.raises(ConcurrentWriteError):
        a._commit(
            m_stale["files"], m_stale["schema"], m_stale["properties"],
            base_version=m_stale["version"],
        )
    # but a fresh rewrite (re-reads latest) goes through and keeps both rows
    a.delete_where("id = -999")  # no-op predicate, full commit path
    assert {r["id"] for r in a.read().collect()} == {1, 2}


def test_crashed_publish_leaves_no_partial_manifest(spark, tmp_path):
    """A tmp manifest left by a crashed writer must be invisible to
    version resolution and history."""
    from sparketl.tables import ManagedTable

    tbl = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    tbl.create(df.schema)
    tbl.append(df)
    # simulate a crash between tmp write and link
    import os

    junk = os.path.join(tbl._manifest_dir, "v000099.json.tmp-deadbeef")
    with open(junk, "w", encoding="utf-8") as f:
        f.write("{not json")
    assert tbl._current_version() == 2
    assert tbl.history() == [1, 2]
    assert tbl.read().count() == 1


def test_add_column_metadata_only_and_readable(spark, tmp_table_root):
    from pyspark.sql import types as TT

    t = make(spark, tmp_table_root)
    t.append(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    files_before = t._manifest()["files"]
    t.add_column("score", TT.DoubleType())
    # metadata-only: identical data files, one new version
    assert t._manifest()["files"] == files_before
    row = t.read().collect()[0]
    assert row["score"] is None  # old files read as NULL
    # new appends carry the column; old rows stay NULL
    t.append(
        spark.createDataFrame(
            [(2, "b", 2.0, 9.5)], "id long, name string, bal double, score double"
        )
    )
    got = {r["id"]: r["score"] for r in t.read().collect()}
    assert got == {1: None, 2: 9.5}
    # time travel: the pre-ALTER snapshot has no such column
    assert "score" not in t.read(version=2).columns
    with pytest.raises(TableError):
        t.add_column("score", TT.DoubleType())


def test_drop_column_metadata_only_and_guards(spark, tmp_table_root):
    t = make(spark, tmp_table_root)
    t.append(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    files_before = t._manifest()["files"]
    t.drop_column("bal")
    assert t._manifest()["files"] == files_before  # no rewrite
    assert t.read().columns == ["id", "name"]
    assert tuple(t.read().collect()[0]) == (1, "a")
    # appends after the drop use the narrowed schema
    t.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    assert t.read().count() == 2
    with pytest.raises(TableError):
        t.drop_column("id")  # primary key
    with pytest.raises(TableError):
        t.drop_column("ghost")


def test_minmax_prunes_string_equality(spark, tmp_table_root):
    """String-equality file skipping via per-file footer min/max: a
    lookup for a name inside only one file's range must scan one file;
    a name outside every range scans zero; results always equal the
    unpruned filter."""
    t = make(spark, tmp_table_root)
    t.append(
        spark.createDataFrame(
            [(i, f"alpha{i}", 1.0) for i in range(10)], SCHEMA
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(i, f"beta{i}", 2.0) for i in range(10, 20)], SCHEMA
        ).coalesce(1)
    )
    assert len(t.candidate_files(None)) == 2
    assert len(t.candidate_files("name = 'alpha3'")) == 1
    assert len(t.candidate_files("name = 'beta15'")) == 1
    assert len(t.candidate_files("name = 'gamma1'")) == 0
    got = {r["id"] for r in t.read(where="name = 'beta15'").collect()}
    assert got == {15}
    assert t.read(where="name = 'gamma1'").count() == 0
    # combined numeric + string conjuncts prune independently
    assert len(t.candidate_files("name = 'alpha3' AND bal > 1.5")) == 0
    # quoted-quote literals refuse to parse → no prune, still correct
    assert len(t.candidate_files("name = 'it''s'")) == 2


def test_string_stats_carried_forward_and_respect_mutations(spark, tmp_table_root):
    """String min/max ride the manifest across appends/updates like the
    numeric stats: after a keyed update rewrites one file, lookups
    against both old and new values stay exact."""
    t = make(spark, tmp_table_root)
    t.append(spark.createDataFrame([(1, "old", 1.0)], SCHEMA).coalesce(1))
    t.append(spark.createDataFrame([(2, "other", 2.0)], SCHEMA).coalesce(1))
    src = spark.createDataFrame([(1, "new", 9.0)], SCHEMA)
    t.keyed_update(src, "id")
    assert {r["id"] for r in t.read(where="name = 'new'").collect()} == {1}
    assert t.read(where="name = 'old'").count() == 0
    assert {r["id"] for r in t.read(where="name = 'other'").collect()} == {2}


def test_writes_commit_no_empty_files(spark, tmp_path):
    """Spark writes partition 0's file even when it holds no rows; such
    files never reach a manifest. One-row appends commit one file each
    and deleting every row commits zero files, for numeric and string
    schemas alike."""
    import pyarrow.parquet as pq

    for name, ddl, val in (("num", "k long, v double", 0.5), ("str", "k long, s string", "a")):
        t = ManagedTable(spark, str(tmp_path / name))
        t.create(spark.createDataFrame([], ddl).schema)
        for i in range(3):
            t.append(spark.createDataFrame([(i, val)], ddl))
        files = t.data_files()
        assert len(files) == 3, name
        assert [pq.read_metadata(f).num_rows for f in files] == [1, 1, 1]
        t.delete_where("k >= 0")
        assert t.data_files() == [] and t.read().count() == 0, name


def test_pruner_keeps_files_when_literal_and_stats_kinds_differ(spark, tmp_table_root):
    """A number against string stats, or a string against numeric
    stats, never prunes: Spark compares them after casting one side,
    in an order the bounds do not follow (and comparing a str bound
    with a float would raise TypeError)."""
    t = make(spark, tmp_table_root)
    for i, n in ((1, "3"), (2, "10"), (3, "a")):
        t.append(spark.createDataFrame([(i, n, 1.0)], SCHEMA).coalesce(1))
    for where in ("name > 5", "name = 10", "name IN (1, 'a')", "id = '5'", "id = '2'"):
        assert len(t.candidate_files(where)) == 3, where
        got = sorted(tuple(r) for r in t.read(where=where).collect())
        want = sorted(tuple(r) for r in t.read().filter(where).collect())
        assert got == want, where


# pieces of probe strings: shared prefixes, non-ASCII and astral code
# points, SQL words and characters the predicate splitter reacts to,
# and a backslash escape Spark's parser rewrites (no quote: a quote
# ends the literal)
_STR_PIECES = [
    "", "a", "ab", "abc", "b", "é", "\uff21", "\U0001f600", "日本",
    " AND ", " OR ", " BETWEEN 1 AND 2", "NOT", "(", ")", ",", '"',
    "k = 5", "\t", "\\t", " ",
]


_STR_VALUE = st.lists(st.sampled_from(_STR_PIECES), max_size=3).map("".join)


@pytest.fixture(scope="module")
def prop_root(tmp_path_factory):
    return tmp_path_factory.mktemp("strprune")


@given(
    batches=st.lists(
        st.lists(_STR_VALUE, min_size=1, max_size=4), min_size=2, max_size=3
    ),
    extra=st.lists(_STR_VALUE, min_size=1, max_size=2),
)
# a backslash escape Spark reads as a tab, and an AND-split inside a
# literal that would parse as a conjunct on k
@example(batches=[["\t"], [" AND k = 5 AND "]], extra=["\\t"])
@settings(max_examples=6, deadline=None)
def test_string_prune_never_drops_a_match(spark, prop_root, batches, extra):
    """String min/max pruning is a superset: for every probe value,
    ``s = 'v'`` and an IN list keep every file holding a match, and a
    pruned read equals the unpruned filter."""
    import uuid

    import pyarrow.parquet as pq

    t = ManagedTable(spark, str(prop_root / uuid.uuid4().hex))
    t.create(T.StructType([T.StructField("k", T.LongType()), T.StructField("s", T.StringType())]))
    k = 0
    for batch in batches:
        rows = [(k + i, v) for i, v in enumerate(batch)]
        k += len(batch)
        t.append(spark.createDataFrame(rows, "k long, s string").coalesce(1))
    held = {
        f: set(pq.read_table(f, columns=["s"]).column("s").to_pylist())
        for f in t.data_files()
    }
    probes = sorted({v for b in batches for v in b} | set(extra))
    for v in probes:
        cand = set(t.candidate_files(f"s = '{v}'"))
        assert {f for f, vals in held.items() if v in vals} <= cand, v
    pair = {probes[0], extra[0]}
    in_list = "s IN (" + ", ".join(f"'{v}'" for v in sorted(pair)) + ")"
    cand = set(t.candidate_files(in_list))
    assert {f for f, vals in held.items() if vals & pair} <= cand
    for where in (f"s = '{extra[-1]}'", in_list):
        got = sorted(tuple(r) for r in t.read(where=where).collect())
        want = sorted(tuple(r) for r in t.read().filter(where).collect())
        assert got == want, where


def test_changes_classifies_cdf_row_types(spark, tmp_table_root):
    """changes() yields Delta CDF's four row types: an updated key
    becomes update_preimage + update_postimage, a fresh key insert, a
    vanished key delete."""
    t = make(spark, tmp_table_root)
    t.append(
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], SCHEMA)
    )  # v2
    t.keyed_update(spark.createDataFrame([(1, "a2", 9.0)], SCHEMA), "id")  # v3
    t.delete_where("id = 2")  # v4
    t.append(spark.createDataFrame([(4, "d", 4.0)], SCHEMA))  # v5

    got = sorted(
        (r["id"], r["name"], r["_change"])
        for r in t.changes(["id"], 2, 5).collect()
    )
    assert got == [
        (1, "a", "update_preimage"),
        (1, "a2", "update_postimage"),
        (2, "b", "delete"),
        (4, "d", "insert"),
    ]
    # unchanged key 3 produces no change rows at all
    assert all(r[0] != 3 for r in got)


def test_commit_writes_delta_not_full_snapshot(spark, tmp_table_root):
    """The log entry for one append must be O(files added in THAT
    commit): after a wide multi-file append, a later 1-row append's
    manifest stays small instead of re-listing every file + its stats
    (the old full-snapshot format grew linearly)."""
    import json
    import os

    t = make(spark, tmp_table_root)
    wide = spark.range(2000).selectExpr(
        "id", "concat('n', id % 7) AS name", "cast(id as double) AS bal"
    ).repartition(64)
    t.append(wide)
    assert len(t._manifest()["files"]) >= 64
    v = t.append(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    entry_path = os.path.join(t._manifest_dir, f"v{v:06d}.json")
    entry = json.load(open(entry_path))
    assert "files" not in entry  # delta format, not a snapshot
    assert len(entry["adds"]) <= 2 and entry["removes"] == []
    # the 1-file delta is far smaller than the table's full metadata
    assert os.path.getsize(entry_path) < 8_000


def test_checkpoint_bounds_log_replay(spark, tmp_table_root, monkeypatch):
    """Reading a snapshot loads the nearest parquet checkpoint plus at
    most _CKPT_EVERY deltas — never the whole history."""
    import os

    from sparketl import tables as tb

    monkeypatch.setattr(tb, "_CKPT_EVERY", 5)
    t = make(spark, tmp_table_root)
    for i in range(12):  # versions 2..13; checkpoints at v5 and v10
        t.append(spark.createDataFrame([(i, "x", float(i))], SCHEMA))
    assert os.path.exists(t._ckpt_path(5))
    assert os.path.exists(t._ckpt_path(10))

    fresh = tb.ManagedTable(spark, tmp_table_root)  # cold cache
    opened: list[int] = []
    orig = tb.ManagedTable._read_log_entry

    def spy(self, v):
        opened.append(v)
        return orig(self, v)

    monkeypatch.setattr(tb.ManagedTable, "_read_log_entry", spy)
    snap = fresh._manifest()
    assert snap["version"] == 13
    # only the deltas above the v10 checkpoint are parsed
    assert sorted(opened) == [11, 12, 13]
    assert fresh.read().count() == 12
    # snapshot content equals a full-replay reconstruction
    nock = tb.ManagedTable(spark, tmp_table_root)
    os.remove(nock._ckpt_path(5))
    os.remove(nock._ckpt_path(10))
    full = nock._manifest()
    assert full["files"] == snap["files"]
    assert full["file_stats"] == snap["file_stats"]
    assert full["properties"] == snap["properties"]


def test_checkpoint_survives_pruned_reads_and_rewrites(spark, tmp_table_root, monkeypatch):
    """Stat-pruned reads and copy-on-write updates behave identically
    when the snapshot is reconstructed through a checkpoint."""
    from sparketl import tables as tb

    monkeypatch.setattr(tb, "_CKPT_EVERY", 3)
    t = make(spark, tmp_table_root)
    for i in range(6):
        t.append(
            spark.createDataFrame([(i, f"n{i}", float(i * 100))], SCHEMA)
        )
    cold = tb.ManagedTable(spark, tmp_table_root)
    # numeric min/max pruning through the checkpointed stats
    cand = cold.candidate_files("bal > 350")
    assert 0 < len(cand) < len(cold._manifest()["files"])
    got = sorted(r["id"] for r in cold.read(where="bal > 350").collect())
    assert got == [4, 5]
    # string min/max pruning on equality
    cand_s = cold.candidate_files("name = 'n2'")
    assert len(cand_s) == 1
    # copy-on-write delete on top of a checkpoint base
    cold.delete_where("id = 3")
    assert sorted(r["id"] for r in cold.read().collect()) == [0, 1, 2, 4, 5]


def test_legacy_full_manifest_still_readable(spark, tmp_table_root):
    """Tables written by the old full-snapshot format load unchanged:
    a legacy entry acts as its own checkpoint base, and new delta
    commits stack on top of it."""
    import json
    import os

    t = make(spark, tmp_table_root)
    t.append(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA))
    m = t._manifest()
    legacy = {
        "version": m["version"],
        "files": list(m["files"]),
        "schema": m["schema"],
        "properties": dict(m["properties"]),
        "file_stats": dict(m["file_stats"]),
    }
    path = os.path.join(t._manifest_dir, f"v{m['version']:06d}.json")
    os.remove(path)
    with open(path, "w") as f:
        json.dump(legacy, f)
    fresh = ManagedTable(spark, t.root)
    assert sorted(r["id"] for r in fresh.read().collect()) == [1, 2]
    fresh.append(spark.createDataFrame([(3, "c", 3.0)], SCHEMA))
    again = ManagedTable(spark, t.root)
    assert sorted(r["id"] for r in again.read().collect()) == [1, 2, 3]
    # stats carried through the legacy base still prune (empty writer
    # files have {} stats and are conservatively kept)
    cand = again.candidate_files("bal > 2.5")
    assert len(cand) < len(again._manifest()["files"])
    assert sorted(r["id"] for r in again.read(where="bal > 2.5").collect()) == [3]


def test_parent_format_blooms_still_read_and_prune(spark, tmp_table_root):
    """Tables written while the manifest carried Bloom filters stay
    readable: a delta whose ``adds`` carry a ``"b"`` key and a
    checkpoint with a ``blooms`` column load, their min/max stats still
    prune, and new commits stack on top."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = make(spark, tmp_table_root)
    for i in range(3):  # v2..v4
        t.append(spark.createDataFrame([(i, f"n{i}", float(i))], SCHEMA).coalesce(1))
    bits = "ff" * 1024
    snap = t._manifest(3)
    pq.write_table(
        pa.table(
            {
                "file": snap["files"],
                "stats": [json.dumps(snap["file_stats"][f]) for f in snap["files"]],
                "blooms": [json.dumps({"name": bits}) for _ in snap["files"]],
            }
        ).replace_schema_metadata(
            {
                "version": "3",
                "schema": snap["schema"],
                "properties": json.dumps(snap["properties"]),
            }
        ),
        t._ckpt_path(3),
    )
    path = f"{t._manifest_dir}/v000004.json"
    entry = t._read_log_entry(4)
    for sb in entry["adds"].values():
        sb["b"] = {"name": bits}
    with open(path, "w") as f:
        json.dump(entry, f)

    fresh = ManagedTable(spark, t.root)
    assert sorted(r["id"] for r in fresh.read().collect()) == [0, 1, 2]
    assert len(fresh.candidate_files("bal > 1.5")) == 1
    assert len(fresh.candidate_files("id = 0")) == 1
    assert [r["id"] for r in fresh.read(where="bal > 1.5").collect()] == [2]
    fresh.append(spark.createDataFrame([(3, "n3", 3.0)], SCHEMA))
    again = ManagedTable(spark, t.root)
    assert sorted(r["id"] for r in again.read(where="bal > 0.5").collect()) == [1, 2, 3]


def test_concurrent_appends_across_checkpoint_boundaries(spark, tmp_path, monkeypatch):
    """Racing appends whose rebases cross several checkpoint writes:
    every batch survives, each version reconstructs, and a cold reader
    sees the same snapshot the writers produced."""
    import threading

    from sparketl import tables as tb

    monkeypatch.setattr(tb, "_CKPT_EVERY", 3)
    root = str(tmp_path / "t")
    tbl = tb.ManagedTable(spark, root)
    first = spark.createDataFrame([(0, 0.0)], "id long, v double")
    tbl.create(first.schema)

    n_writers, errors = 8, []

    def write(i: int) -> None:
        try:
            tb.ManagedTable(spark, root).append(
                spark.createDataFrame([(i + 1, float(i))], "id long, v double")
            )
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=write, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    cold = tb.ManagedTable(spark, root)
    assert cold._current_version() == 1 + n_writers
    got = sorted(r["id"] for r in cold.read().collect())
    assert got == list(range(1, n_writers + 1))
    import os

    assert os.path.exists(cold._ckpt_path(3))
    assert os.path.exists(cold._ckpt_path(9))


def test_pruning_handles_in_between_and_or(spark, tmp_table_root):
    """r6 pruner extension: IN lists, numeric BETWEEN, and top-level OR
    prune files while staying a superset of the matching set."""
    t = make(spark, tmp_table_root)
    for i in range(6):
        t.append(
            spark.createDataFrame([(i, f"n{i}", float(i * 100))], SCHEMA)
        )
    total = len(t._manifest()["files"])

    def check(where, expect_ids):
        cand = t.candidate_files(where)
        assert len(cand) < total, where
        got = sorted(r["id"] for r in t.read(where=where).collect())
        ref = sorted(
            r["id"] for r in t.read().filter(where).collect()
        )
        assert got == ref == expect_ids, where

    check("id IN (1, 3)", [1, 3])
    check("name IN ('n2', 'n4')", [2, 4])
    check("bal BETWEEN 150 AND 350", [2, 3])
    check("bal < 100 OR bal > 450", [0, 5])
    check("id IN (1, 2) AND bal > 150", [2])
    # precedence: AND binds tighter than OR
    check("id = 0 OR id = 5 AND bal > 450", [0, 5])
    # NOT still disables pruning but stays correct
    assert len(t.candidate_files("NOT (id = 1)")) == total
    got = sorted(r["id"] for r in t.read(where="NOT (id = 1)").collect())
    assert got == [0, 2, 3, 4, 5]
    # NOT IN must not be misread as a prunable IN
    assert len(t.candidate_files("id NOT IN (1, 2)")) == total
    got = sorted(r["id"] for r in t.read(where="id NOT IN (1, 2)").collect())
    assert got == [0, 3, 4, 5]


def test_distributed_checkpoint_prune_never_materializes_snapshot(
    spark, tmp_path, monkeypatch
):
    """Above DIST_PRUNE_FILES, candidate_files must prune the
    checkpoint as a Spark job: the driver-side checkpoint loader
    (_read_checkpoint) is never called, only surviving paths return,
    and the delta tail above the checkpoint still applies (removes
    drop survivors; added files prune from their inline stats)."""
    import json
    import os

    root = str(tmp_path / "bigtable")
    tbl = ManagedTable(spark, root)
    os.makedirs(tbl._manifest_dir)
    schema_json = T.StructType([T.StructField("x", T.LongType())]).json()

    n = 1200
    monkeypatch.setattr(ManagedTable, "DIST_PRUNE_FILES", 1000)
    files = [f"{root}/d-synth/f-{i:06d}.parquet" for i in range(n)]
    stats = {f: {"x": [i, i]} for i, f in enumerate(files)}
    # one file with string stats to exercise the executor-side string prune
    stats[files[7]]["s"] = ["hit", "hit"]
    tbl._write_checkpoint(
        {
            "version": 20,
            "files": files,
            "schema": schema_json,
            "properties": {},
            "file_stats": stats,
        }
    )
    with open(os.path.join(tbl._manifest_dir, "v000020.json"), "w") as fh:
        json.dump(
            {
                "version": 20,
                "schema": schema_json,
                "properties": {},
                "adds": {},
                "removes": [],
            },
            fh,
        )

    def boom(*a, **k):
        raise AssertionError("driver materialized the full snapshot")

    monkeypatch.setattr(tbl, "_read_checkpoint", boom)

    got = tbl.candidate_files("x >= 1190")
    assert sorted(got) == files[1190:]
    # string pruning also runs executor-side: files without string
    # stats stay (superset guarantee), the other drops only on a miss
    assert sorted(tbl.candidate_files("x <= 10 AND s = 'hit'")) == files[:11]
    assert sorted(tbl.candidate_files("x <= 10 AND s = 'miss'")) == (
        files[:7] + files[8:11]
    )

    # delta tail: v21 removes one survivor and adds one passing +
    # one prunable file with inline stats
    with open(os.path.join(tbl._manifest_dir, "v000021.json"), "w") as fh:
        json.dump(
            {
                "version": 21,
                "schema": schema_json,
                "properties": {},
                "adds": {
                    f"{root}/d-extra/hi.parquet": {"s": {"x": [5000, 5001]}},
                    f"{root}/d-extra/lo.parquet": {"s": {"x": [0, 1]}},
                },
                "removes": [files[1195]],
            },
            fh,
        )
    got2 = tbl.candidate_files("x >= 1190")
    assert sorted(got2) == sorted(
        [f for f in files[1190:] if f != files[1195]]
        + [f"{root}/d-extra/hi.parquet"]
    )
    # the pruned-read schema path also avoids the snapshot loader
    assert tbl._read_log_entry(21)["schema"] == schema_json


def test_incremental_topk_maintenance_equals_recompute(spark):
    """ext_156: carried untouched groups + group-bounded rescan must
    equal a direct top-k recompute over the new snapshot, including an
    EVICTION case (a deleted top row promotes a replacement from
    outside the stored k)."""
    from pyspark.sql import functions as F

    from sparketl.operators.curation import incremental_topk_maintenance

    rows_old = [
        # customer 100: top-3 of 4 rows; orderkey 1 is the max
        (100, 1, 500.0), (100, 2, 400.0), (100, 3, 300.0), (100, 4, 200.0),
        # customer 200: untouched group — must carry verbatim
        (200, 10, 900.0), (200, 11, 800.0),
    ]
    # delete A's #1 (eviction: #4 must be promoted into the top-3) and
    # insert a new A row mid-range
    rows_new = [
        (100, 2, 400.0), (100, 3, 300.0), (100, 4, 200.0), (100, 5, 350.0),
        (200, 10, 900.0), (200, 11, 800.0),
    ]
    schema = "o_custkey long, o_orderkey long, o_totalprice double"
    old = spark.createDataFrame(rows_old, schema)
    new = spark.createDataFrame(rows_new, schema)
    got = [
        (r["o_custkey"], r["rank"], r["o_orderkey"], r["total_cents"])
        for r in incremental_topk_maintenance(old, new, k=3).collect()
    ]
    assert got == [
        (100, 1, 2, 40000), (100, 2, 5, 35000), (100, 3, 3, 30000),
        (200, 1, 10, 90000), (200, 2, 11, 80000),
    ]
    # cross-check against a direct recompute on fixture-scale data
    from sparketl.io import load_table
    from tests.conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders")
    o = orders.filter(F.col("o_orderkey") % 7 != 0)
    n = orders.filter(F.col("o_orderkey") % 11 != 0)
    maintained = [
        tuple(r) for r in incremental_topk_maintenance(o, n).collect()
    ]
    direct = [
        tuple(r)
        for r in incremental_topk_maintenance(n, n).collect()  # no delta
    ]
    assert maintained == direct and len(direct) > 0
