import pytest

from sparketl.engine import Engine, QueryError
from sparketl.io import load_tables
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module", autouse=True)
def views(spark):
    load_tables(spark, SF_SMOKE)


def test_execute_passthrough(spark):
    df = Engine(spark).execute("SELECT COUNT(*) AS n FROM lineitem")
    assert df.collect()[0]["n"] == 6000


def test_execute_tsql(spark):
    df = Engine(spark).execute(
        "SELECT TOP 5 [o_orderkey] FROM orders ORDER BY [o_orderkey]"
    )
    assert [r["o_orderkey"] for r in df.collect()] == [0, 1, 2, 3, 4]


def test_empty_query_guard(spark):
    with pytest.raises(QueryError):
        Engine(spark).execute("   ")


def test_preview_caps_and_stringifies(spark):
    eng = Engine(spark)
    eng.execute("SELECT l_orderkey, l_quantity FROM lineitem")
    pdf = eng.preview()
    assert len(pdf) == 100  # tool:619 preview cap
    assert all(isinstance(v, str) for v in pdf["l_quantity"])  # tool:625 str()


def test_preview_keeps_duplicate_column_names(spark):
    spark.sql("SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(id, v)").createOrReplaceTempView("dup_t1")
    spark.sql("SELECT * FROM VALUES (1, 10), (3, 30) AS t(id, w)").createOrReplaceTempView("dup_t2")
    eng = Engine(spark)
    df = eng.execute("SELECT * FROM dup_t1 JOIN dup_t2 ON dup_t1.id = dup_t2.id")
    assert [tuple(r) for r in df.collect()] == [(1, "a", 1, 10)]
    pdf = eng.preview()
    assert list(pdf.columns) == ["id", "v", "id", "w"]
    assert [list(r) for r in pdf.itertuples(index=False)] == [["1", "a", "1", "10"]]


def test_preview_without_query_raises(spark):
    with pytest.raises(QueryError):
        Engine(spark).preview()


def test_saved_queries_roundtrip(spark, tmp_path):
    eng = Engine(spark, saved_queries_path=str(tmp_path / "saved.json"))
    eng.save_query("q1", "SELECT 1")
    eng.save_query("q2", "SELECT 2")
    assert eng.load_saved_queries() == {"q1": "SELECT 1", "q2": "SELECT 2"}
    eng.delete_saved_query("q1")
    assert eng.load_saved_queries() == {"q2": "SELECT 2"}


def test_execute_script_sequential_statements(spark):
    from sparketl.engine import Engine

    eng = Engine(spark)
    dfs = eng.execute_script("SELECT 1 AS a; SELECT 2 AS b;")
    assert len(dfs) == 2
    assert dfs[0].collect()[0]["a"] == 1
    assert dfs[1].collect()[0]["b"] == 2


def test_execute_script_semicolons_in_strings_and_comments(spark):
    from sparketl.engine import Engine

    eng = Engine(spark)
    script = (
        "SELECT 'a;b' AS s -- trailing; comment\n"
        "; SELECT 2 AS n"
    )
    dfs = eng.execute_script(script)
    assert len(dfs) == 2
    assert dfs[0].collect()[0]["s"] == "a;b"


def test_execute_script_empty_raises(spark):
    import pytest

    from sparketl.engine import Engine, QueryError

    with pytest.raises(QueryError):
        Engine(spark).execute_script(" ;; ")


def test_execute_positional_and_named_params(spark):
    """Parameter binding parity with the reference's pyodbc `?`
    placeholders (FLT-04): positional list binds `?`, dict binds
    `:name`, and a malicious value stays a value (never spliced)."""
    from sparketl.engine import Engine
    from sparketl.io import load_tables

    load_tables(spark, SF_SMOKE)
    e = Engine(spark)
    pos = e.execute(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderpriority = ?"
        " AND o_totalprice > ?",
        params=["1-URGENT", 100000.0],
    ).collect()[0]
    named = e.execute(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderpriority = :p"
        " AND o_totalprice > :t",
        params={"p": "1-URGENT", "t": 100000.0},
    ).collect()[0]
    want = e.execute(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderpriority = '1-URGENT'"
        " AND o_totalprice > 100000.0"
    ).collect()[0]
    assert pos.n == named.n == want.n and want.n > 0

    inj = e.execute(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderpriority = ?",
        params=["' OR '1'='1"],
    ).collect()[0]
    assert inj.n == 0  # bound as a value, not spliced into the query


def test_top_survives_a_trailing_comment(spark):
    """The LIMIT that replaces TOP lands before a trailing comment,
    whether the comment ends the last line, sits on its own line, or
    follows the statement's ';'."""
    spark.range(100).createOrReplaceTempView("top_src")
    eng = Engine(spark)
    for sql in (
        "SELECT TOP 5 id FROM top_src -- first five",
        "SELECT TOP 5 id FROM top_src\n-- first five",
        "SELECT TOP 5 id FROM top_src; -- first five",
    ):
        assert eng.execute(sql).count() == 5, sql


def test_bracket_identifier_escapes(spark):
    """T-SQL's doubled ``]]`` is one ``]``; a backtick in a bracket
    name is doubled in the Spark spelling."""
    df = Engine(spark).execute("SELECT 1 AS [a]]b], 2 AS [we`ird]")
    assert df.columns == ["a]b", "we`ird"]
