import pytest

from sparketl.dialect import DialectError, transpile


def test_brackets():
    assert transpile("SELECT [a b] FROM [t]") == "SELECT `a b` FROM `t`"


def test_top_to_limit():
    assert (
        transpile("SELECT TOP 10 x FROM t ORDER BY x")
        == "SELECT x FROM t ORDER BY x LIMIT 10"
    )


def test_function_renames():
    out = transpile("SELECT ISNULL(a, b), LEN(c), CHARINDEX('x', d), GETDATE() FROM t")
    assert "coalesce(a, b)" in out
    assert "length(c)" in out
    assert "locate('x', d)" in out
    assert "current_timestamp()" in out


def test_iif_and_getutcdate_renames():
    out = transpile("SELECT IIF(a > 1, 'hi', 'lo'), GETUTCDATE() FROM t")
    assert "if(a > 1, 'hi', 'lo')" in out
    assert "current_timestamp()" in out
    # iif as a bare identifier (no call parens) is left alone
    assert transpile("SELECT iif FROM t") == "SELECT iif FROM t"


def test_strings_and_comments_untouched():
    sql = "SELECT 'LEN(x) [not] TOP 5' AS s -- ISNULL(comment)\nFROM t"
    out = transpile(sql)
    assert "'LEN(x) [not] TOP 5'" in out
    assert "-- ISNULL(comment)" in out


def test_word_boundaries():
    # LENGTH is not LEN; TOPIC is not TOP
    assert transpile("SELECT LENGTH(a), topic FROM t") == "SELECT LENGTH(a), topic FROM t"


def test_trailing_semicolon_with_top():
    assert transpile("SELECT TOP 3 a FROM t;") == "SELECT a FROM t LIMIT 3"


def test_isnull_not_renamed_without_call():
    # bare word (e.g. column named isnull) survives
    assert transpile("SELECT isnull FROM t") == "SELECT isnull FROM t"


def test_top_parenthesized():
    assert transpile("SELECT TOP (7) a FROM t") == "SELECT a FROM t LIMIT 7"


def test_distinct_top():
    assert (
        transpile("SELECT DISTINCT TOP 3 a FROM t ORDER BY a")
        == "SELECT DISTINCT a FROM t ORDER BY a LIMIT 3"
    )


def test_top_in_subquery_raises():
    import pytest

    from sparketl.dialect import DialectError

    with pytest.raises(DialectError, match="subquery"):
        transpile("SELECT * FROM (SELECT TOP 3 a FROM t) s JOIN u ON s.a = u.a")


def test_repeated_top_raises():
    import pytest

    from sparketl.dialect import DialectError

    with pytest.raises(DialectError, match="multiple TOP"):
        transpile("SELECT TOP 3 a FROM t UNION ALL SELECT TOP 4 b FROM u")


def test_plus_string_concat():
    assert (
        transpile("SELECT a + ' / ' + b FROM t")
        == "SELECT a || ' / ' || b FROM t"
    )
    assert transpile("SELECT 'x' + a FROM t") == "SELECT 'x' || a FROM t"


def test_plus_numeric_untouched():
    assert transpile("SELECT a + b, 1 + 2 FROM t") == "SELECT a + b, 1 + 2 FROM t"


def test_plus_number_string_mix_raises():
    # T-SQL converts the string and ADDS (1 + '2' = 3); a || rewrite
    # would silently return '12', so the shim must refuse instead.
    import pytest

    from sparketl.dialect import DialectError

    for sql in (
        "SELECT 1 + '2'",
        "SELECT '2' + 1",
        "SELECT 1.5 + 'x' FROM t",
        "SELECT '2' + -1",
        "SELECT a + '1' + 1 FROM t",
    ):
        with pytest.raises(DialectError, match="number"):
            transpile(sql)


def test_top_as_identifier_after_select_distinct():
    # COUNT(DISTINCT top): 'top' here is a column, not the TOP keyword
    assert (
        transpile("SELECT COUNT(DISTINCT top) FROM t")
        == "SELECT COUNT(DISTINCT top) FROM t"
    )


def test_datediff_rewrites():
    assert (
        transpile("SELECT DATEDIFF(day, a, b) FROM t")
        == "SELECT datediff(b, a) FROM t"
    )
    assert "year(b) - year(a)" in transpile("SELECT DATEDIFF(year, a, b) FROM t")
    assert "year(b) * 12 + month(b)" in transpile(
        "SELECT DATEDIFF(month, a, b) FROM t"
    )
    with pytest.raises(DialectError):
        transpile("SELECT DATEDIFF(hour, a, b) FROM t")


def test_dateadd_rewrites():
    assert (
        transpile("SELECT DATEADD(day, 7, d) FROM t")
        == "SELECT date_add(d, 7) FROM t"
    )
    assert (
        transpile("SELECT DATEADD(month, n + 1, d) FROM t")
        == "SELECT add_months(d, n + 1) FROM t"
    )
    assert "((2) * 12)" in transpile("SELECT DATEADD(year, 2, d) FROM t")


def test_convert_rewrites():
    assert (
        transpile("SELECT CONVERT(INT, x) FROM t")
        == "SELECT CAST(x AS INT) FROM t"
    )
    assert (
        transpile("SELECT CONVERT(VARCHAR(3), x) FROM t")
        == "SELECT substr(CAST(x AS STRING), 1, 3) FROM t"
    )
    assert (
        transpile("SELECT CONVERT(DECIMAL(10, 2), x) FROM t")
        == "SELECT CAST(x AS DECIMAL(10, 2)) FROM t"
    )
    with pytest.raises(DialectError):
        transpile("SELECT CONVERT(VARCHAR, x, 101) FROM t")
    with pytest.raises(DialectError):
        transpile("SELECT CONVERT(blob, x) FROM t")


def test_date_funcs_nest_with_other_rewrites():
    out = transpile(
        "SELECT DATEDIFF(day, DATEADD(day, 1, [d]), ISNULL(e, GETDATE())) FROM t"
    )
    assert out == (
        "SELECT datediff(coalesce(e, current_timestamp()),"
        " date_add(`d`, 1)) FROM t"
    )


def test_offset_fetch_rewrites():
    assert (
        transpile("SELECT a FROM t ORDER BY a OFFSET 10 ROWS FETCH NEXT 5 ROWS ONLY")
        == "SELECT a FROM t ORDER BY a LIMIT 5 OFFSET 10"
    )
    assert (
        transpile("SELECT a FROM t ORDER BY a OFFSET 10 ROWS")
        == "SELECT a FROM t ORDER BY a OFFSET 10"
    )
    # in-place rewrite is depth-safe
    assert (
        transpile(
            "SELECT * FROM (SELECT a FROM t ORDER BY a "
            "OFFSET 3 ROWS FETCH FIRST 4 ROW ONLY) s"
        )
        == "SELECT * FROM (SELECT a FROM t ORDER BY a LIMIT 4 OFFSET 3) s"
    )
    # ANSI OFFSET without ROWS passes through untouched
    assert transpile("SELECT a FROM t OFFSET 5") == "SELECT a FROM t OFFSET 5"


def test_offset_fetch_malformed_raises():
    import pytest

    with pytest.raises(DialectError):
        transpile("SELECT a FROM t ORDER BY a OFFSET 10 ROWS FETCH NEXT x ROWS ONLY")
    with pytest.raises(DialectError):
        transpile("SELECT a FROM t ORDER BY a OFFSET 10 ROWS FETCH NEXT 5 ROWS")


def test_datepart_rewrites():
    assert (
        transpile("SELECT DATEPART(year, d), DATEPART(mm, d), DATEPART(hh, d) FROM t")
        == "SELECT year(d), month(d), hour(d) FROM t"
    )
    with pytest.raises(DialectError):
        transpile("SELECT DATEPART(millisecond, d) FROM t")
    # T-SQL week numbers are DATEFIRST-dependent calendar weeks; Spark
    # only has ISO weekofyear, which diverges at year boundaries
    # (e.g. 2024-12-30 is ISO week 1 but T-SQL week 53) — refuse.
    for part in ("week", "wk", "ww"):
        with pytest.raises(DialectError):
            transpile(f"SELECT DATEPART({part}, d) FROM t")


def test_stuff_square_replicate_sysdatetime():
    assert (
        transpile("SELECT STUFF(s, 2, 3, 'xy') FROM t")
        == "SELECT overlay(s, 'xy', 2, 3) FROM t"
    )
    # single evaluation of the operand, exact x*x arithmetic
    assert (
        transpile("SELECT SQUARE(x + 1) FROM t")
        == "SELECT transform(array((x + 1)), v -> v * v)[0] FROM t"
    )
    assert transpile("SELECT REPLICATE('a', 4) FROM t") == "SELECT repeat('a', 4) FROM t"
    assert transpile("SELECT SYSDATETIME()") == "SELECT current_timestamp()"
    with pytest.raises(DialectError):
        transpile("SELECT STUFF(s, 2, 3) FROM t")


def test_choose_and_iif_rewrites():
    assert (
        transpile("SELECT IIF(a > 1, 'x', 'y') FROM t")
        == "SELECT if(a > 1, 'x', 'y') FROM t"
    )
    out = transpile("SELECT CHOOSE(n, 'a', 'b', 'c') FROM t")
    assert out == (
        "SELECT transform(array(CAST((n) AS INT)), ix -> "
        "if(ix >= 1 AND ix <= 3, array('a', 'b', 'c')[ix - 1], NULL))[0] FROM t"
    )
    with pytest.raises(DialectError):
        transpile("SELECT CHOOSE(n) FROM t")


def test_choose_runtime_semantics(spark):
    """T-SQL CHOOSE: 1-based pick; NULL for 0, out-of-range, or NULL
    index — including under ANSI mode (vanilla driver sessions)."""
    from sparketl.engine import Engine

    e = Engine(spark)
    rows = e.execute(
        "SELECT CHOOSE(i, 'a', 'b') AS c FROM "
        "(SELECT 1 AS i UNION ALL SELECT 2 UNION ALL SELECT 0 "
        "UNION ALL SELECT 9 UNION ALL SELECT CAST(NULL AS INT)) v"
    ).collect()
    assert sorted((r["c"] or "~") for r in rows) == ["a", "b", "~", "~", "~"]


def test_r7_scalar_rewrites():
    from sparketl.dialect import transpile

    assert transpile("SELECT EOMONTH(d) FROM t") == "SELECT last_day(d) FROM t"
    assert (
        transpile("SELECT EOMONTH(d, 2) FROM t")
        == "SELECT last_day(add_months(d, 2)) FROM t"
    )
    assert (
        transpile("SELECT QUOTENAME(c) FROM t")
        == "SELECT concat('[', replace(c, ']', ']]'), ']') FROM t"
    )
    assert (
        transpile("SELECT DATENAME(month, d), DATENAME(weekday, d) FROM t")
        == "SELECT date_format(d, 'MMMM'), date_format(d, 'EEEE') FROM t"
    )
    assert (
        transpile("SELECT PATINDEX('%abc%', c) FROM t")
        == "SELECT locate('abc', c) FROM t"
    )
    assert (
        transpile("SELECT TRY_CONVERT(INT, c) FROM t")
        == "SELECT TRY_CAST(c AS INT) FROM t"
    )
    assert (
        transpile("SELECT TRY_CONVERT(VARCHAR(5), c) FROM t")
        == "SELECT substr(TRY_CAST(c AS STRING), 1, 5) FROM t"
    )
    assert (
        transpile("SELECT DATEFROMPARTS(2000, 6, 15)")
        == "SELECT make_date(2000, 6, 15)"
    )


def test_r7_scalar_rewrites_refuse_unfaithful_forms():
    import pytest

    from sparketl.dialect import DialectError, transpile

    for bad in (
        "SELECT DATENAME(week, d) FROM t",        # language/DATEFIRST traps
        "SELECT PATINDEX('abc%', c) FROM t",       # anchored LIKE pattern
        "SELECT PATINDEX('%a_c%', c) FROM t",      # _ wildcard
        "SELECT QUOTENAME(c, '\"') FROM t",        # non-default quote char
        "SELECT EOMONTH(d, 1, 2) FROM t",
    ):
        with pytest.raises(DialectError):
            transpile(bad)


def test_string_agg_and_unicode_rewrites():
    assert (
        transpile("SELECT STRING_AGG(x, ',') WITHIN GROUP (ORDER BY x) FROM t")
        == "SELECT listagg(x, ',') WITHIN GROUP (ORDER BY x) FROM t"
    )
    assert transpile("SELECT UNICODE('A')") == "SELECT ascii('A')"


# -- round 8: QUALIFY + APPLY rewrites ---------------------------------------


def test_qualify_rewrites_to_subquery_filter():
    from sparketl.dialect import transpile

    out = transpile(
        "SELECT id, g FROM t QUALIFY ROW_NUMBER() OVER "
        "(PARTITION BY g ORDER BY id) = 1 ORDER BY g"
    )
    assert "EXCEPT (__sparketl_q)" in out
    assert out.rstrip().endswith("ORDER BY g")
    assert "QUALIFY" not in out.upper().replace("__SPARKETL_Q", "")


def test_qualify_refusals():
    import pytest

    from sparketl.dialect import DialectError, transpile

    # DISTINCT composes (r10): filter in the subquery, DISTINCT outside
    out = transpile(
        "SELECT DISTINCT g FROM t QUALIFY RANK() OVER (ORDER BY g) = 1"
    )
    assert out.startswith("SELECT DISTINCT * EXCEPT (__sparketl_q)")
    inner = out.split("FROM (", 1)[1]
    assert "DISTINCT" not in inner.upper()  # dedup happens OUTSIDE the filter
    # QUALIFY inside a derived table rewrites (r10) instead of refusing
    out = transpile(
        "SELECT * FROM (SELECT g FROM t QUALIFY RANK() OVER (ORDER BY g) = 1) s"
    )
    assert "QUALIFY" not in out.upper() and "__sparketl_q" in out
    # ... including double-wrapped and IN-subquery spellings
    out = transpile(
        "SELECT * FROM ((SELECT g FROM t QUALIFY RANK() OVER (ORDER BY g) = 1)) s"
    )
    assert "QUALIFY" not in out.upper()
    out = transpile(
        "SELECT a FROM u WHERE a IN "
        "(SELECT g FROM t QUALIFY RANK() OVER (ORDER BY g) = 1)"
    )
    assert "QUALIFY" not in out.upper()
    # a parenthesized group that is not itself a query still refuses
    with pytest.raises(DialectError, match="not"):
        transpile("SELECT f(a QUALIFY b) FROM t")
    # QUALIFY inside a depth-0 CTE body rewrites (r9) instead of refusing
    out = transpile(
        "WITH t2 AS (SELECT g FROM t "
        "QUALIFY RANK() OVER (ORDER BY g) = 1) SELECT * FROM t2"
    )
    assert "QUALIFY" not in out.upper() and "__sparketl_q" in out
    # QUALIFY in a set-operator branch rewrites (r11) instead of
    # refusing: only the branch that carries QUALIFY is wrapped, the
    # other passes through untouched, and the operator survives.
    out = transpile(
        "SELECT g FROM t UNION ALL SELECT g FROM t "
        "QUALIFY RANK() OVER (ORDER BY g) = 1"
    )
    assert "QUALIFY" not in out.upper()
    assert out.startswith("SELECT g FROM t UNION ALL ")
    assert "__sparketl_q" in out
    # QUALIFY in BOTH branches, with a set-level ORDER BY tail that
    # must stay at the set level (after the last branch's rewrite)
    out = transpile(
        "SELECT g FROM t QUALIFY RANK() OVER (ORDER BY g) = 1 "
        "INTERSECT SELECT g FROM u "
        "QUALIFY RANK() OVER (ORDER BY g) = 2 ORDER BY g"
    )
    assert "QUALIFY" not in out.upper()
    assert out.count("__sparketl_q") >= 4 and " INTERSECT " in out
    assert out.rstrip().endswith("ORDER BY g")
    # `* EXCEPT (...)` in a branch select list is a projection, not
    # the set operator — the split must not fire on it
    out = transpile(
        "SELECT * EXCEPT (h) FROM t "
        "QUALIFY RANK() OVER (ORDER BY g) = 1 "
        "EXCEPT SELECT * EXCEPT (h) FROM u"
    )
    assert "QUALIFY" not in out.upper()
    assert " EXCEPT SELECT " in out


def test_apply_rewrites_and_refusal():
    import pytest

    from sparketl.dialect import DialectError, transpile

    out = transpile(
        "SELECT * FROM a CROSS APPLY (SELECT TOP 2 x FROM b "
        "WHERE b.k = a.k ORDER BY x) s"
    )
    assert "JOIN LATERAL" in out and "LIMIT 2" in out and "TOP" not in out
    out2 = transpile("SELECT * FROM a OUTER APPLY (SELECT 1 AS one) s")
    assert "LEFT JOIN LATERAL" in out2
    # bare TVF operand has no rewrite
    with pytest.raises(DialectError, match="parenthesized"):
        transpile("SELECT * FROM a CROSS APPLY some_tvf(a.k) s")
    # words CROSS/OUTER not followed by APPLY pass through untouched
    assert "CROSS JOIN" in transpile("SELECT * FROM a CROSS JOIN b")
    assert "FULL OUTER JOIN" in transpile(
        "SELECT * FROM a FULL OUTER JOIN b ON a.k = b.k"
    )


def test_tsql_funcs6_rewrites():
    import pytest

    from sparketl.dialect import DialectError, transpile

    out = transpile("SELECT PARSENAME('a.b.c', 1) AS x")
    assert "try_element_at" in out and "-CAST(1 AS INT)" in out
    out = transpile("SELECT ISNUMERIC(col) FROM t")
    assert "try_cast" in out.lower() and "THEN 1 ELSE 0" in out
    out = transpile("SELECT ATN2(y, x) FROM t")
    assert "atan2" in out
    with pytest.raises(DialectError, match="PARSENAME"):
        transpile("SELECT PARSENAME('a.b')")
    with pytest.raises(DialectError, match="ISNUMERIC"):
        transpile("SELECT ISNUMERIC(a, b)")


def test_asof_join_rewrite_and_refusals():
    import pytest

    from sparketl.dialect import DialectError, transpile

    out = transpile(
        "SELECT e.id, p.px FROM q e ASOF JOIN prices p "
        "ON e.sym = p.sym AND e.t >= p.t"
    )
    assert "LEAD(t) OVER (PARTITION BY sym ORDER BY t)" in out
    assert "e.t < p.__sparketl_nxt" in out
    out = transpile(
        "SELECT * FROM q e ASOF LEFT JOIN prices p "
        "ON e.sym = p.sym AND p.t <= e.t WHERE e.id = 1"
    )
    assert "LEFT JOIN (SELECT p.*" in out and "LEAD(t)" in out
    # forward asof: earliest following -> LAG neighbor, lower bound
    out = transpile(
        "SELECT * FROM q e ASOF JOIN prices p ON e.sym = p.sym AND e.t <= p.t"
    )
    assert "LAG(t)" in out and "e.t > p.__sparketl_nxt" in out
    with pytest.raises(DialectError, match="exactly one inequality"):
        transpile("SELECT * FROM q e ASOF JOIN p ON e.sym = p.sym")
    with pytest.raises(DialectError, match="ON condition"):
        transpile("SELECT * FROM q e ASOF JOIN p")
    with pytest.raises(DialectError, match="alias"):
        transpile(
            "SELECT * FROM q e ASOF JOIN (SELECT 1 AS t) ON e.t >= t"
        )
    # T-SQL spellings inside the captured ON condition must be
    # transpiled, not spliced verbatim (ADVICE r8): bracket
    # identifiers and DATEADD both reach Spark as Spark spellings
    out = transpile(
        "SELECT * FROM q e ASOF JOIN prices p "
        "ON e.sym = p.sym AND DATEADD(day, 1, e.[t]) >= p.[t]"
    )
    assert "[t]" not in out and "DATEADD" not in out
    assert "date_add" in out and "`t`" in out
    assert "LEAD(`t`)" in out
    # a bracket-quoted alias or table is the right side, whichever way
    # the conjuncts quote it
    for right in ("prices AS [p]", "prices [p]", "prices AS p"):
        out = transpile(
            f"SELECT * FROM e ASOF JOIN {right} ON e.s = p.s AND e.ts >= [p].ts"
        )
        assert "LEAD(ts) OVER (PARTITION BY s ORDER BY ts)" in out, right
    out = transpile(
        "SELECT * FROM e ASOF JOIN [prices] ON e.s = [prices].s AND e.ts >= prices.ts"
    )
    assert "FROM `prices` AS `prices`) `prices`" in out
    assert "LEAD(ts) OVER (PARTITION BY s ORDER BY ts)" in out


def test_parse_merge_keeps_case_expressions_whole():
    from sparketl.dialect import parse_merge

    spec = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED AND CASE WHEN s.v > 0 THEN 1 END = 1 "
        "THEN UPDATE SET v = CASE WHEN s.v > 0 THEN s.v ELSE 0 END, w = 1 "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert spec["clauses"] == [
        (
            "matched",
            "update",
            {"v": "CASE WHEN source.v > 0 THEN source.v ELSE 0 END", "w": "1"},
            "CASE WHEN source.v > 0 THEN 1 END = 1",
        ),
        ("not_matched", "insert", None, None),
    ]


def test_tsql_batch7():
    """T-SQL batch 7: DATETRUNC, STRING_SPLIT TVF, FORMAT refusal."""
    import pytest

    from sparketl.dialect import DialectError, transpile

    out = transpile("SELECT DATETRUNC(month, d) FROM t")
    assert "date_trunc('month', d)" in out
    out = transpile(
        "SELECT c.n, s.value FROM c CROSS APPLY STRING_SPLIT(c.n, '.') s"
    )
    assert "JOIN LATERAL (SELECT explode(split(c.n, '\\\\.')) AS value) s" in out
    out = transpile("SELECT value FROM STRING_SPLIT('a b', ' ') t")
    assert "explode(split('a b'," in out
    out = transpile("SELECT x FROM t OUTER APPLY STRING_SPLIT(t.c, '|') s")
    assert "LEFT JOIN LATERAL" in out and "'\\\\|'" in out
    with pytest.raises(DialectError, match="FORMAT"):
        transpile("SELECT FORMAT(x, 'N2') FROM t")
    with pytest.raises(DialectError, match="DATETRUNC\\(week"):
        transpile("SELECT DATETRUNC(week, d) FROM t")
    with pytest.raises(DialectError, match="enable_ordinal"):
        transpile("SELECT value FROM STRING_SPLIT(x, ',', 1)")
    with pytest.raises(DialectError, match="string literal"):
        transpile("SELECT value FROM STRING_SPLIT(x, sep_col)")


def test_split_statements_drops_comment_only_statements():
    from sparketl.dialect import split_statements

    assert split_statements("SELECT 1; -- done\n;; SELECT 2 -- two") == [
        "SELECT 1",
        "SELECT 2 -- two",
    ]
