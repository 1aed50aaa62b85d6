"""Property-based checks on the T-SQL dialect shim (hypothesis).

The shim's invariants, for arbitrary inputs:
1. content inside single-quoted string literals is NEVER rewritten
2. content inside ``--`` line comments is NEVER rewritten
3. bracket identifiers become backtick identifiers with the inner
   text preserved verbatim
4. transpiling is idempotent: transpile(transpile(s)) == transpile(s)
5. plain ANSI SQL without any T-SQL construct passes through unchanged
6. layout never changes a rewrite: ``-- c`` comments and extra
   whitespace at any token boundary leave the output equal (comments
   stripped, whitespace dropped) to the output of the clean text, keep
   a refusal a refusal, and leave ``parse_merge`` specs equal
"""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparketl.dialect import DialectError, parse_merge, transpile

# identifier-ish inner text for brackets: no brackets/backticks/newlines
ident = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters="_ "
    ),
    min_size=1,
    max_size=20,
)

# literal body: anything printable except the quote itself
literal_body = st.text(
    alphabet=st.characters(
        blacklist_characters="'\n\r", blacklist_categories=("Cs", "Cc")
    ),
    max_size=30,
)


@given(body=literal_body)
@settings(max_examples=200, deadline=None)
def test_string_literals_never_rewritten(body):
    sql = f"SELECT '{body}' AS c FROM t"
    out = transpile(sql)
    assert f"'{body}'" in out


@given(body=literal_body)
@settings(max_examples=200, deadline=None)
def test_comments_never_rewritten(body):
    sql = f"SELECT 1 -- TOP 5 GETDATE() [{body}]"
    out = transpile(sql)
    assert out.endswith(f"-- TOP 5 GETDATE() [{body}]")


@given(name=ident)
@settings(max_examples=200, deadline=None)
def test_bracket_ident_preserved(name):
    out = transpile(f"SELECT [{name}] FROM t")
    assert f"`{name}`" in out and "[" not in out


@given(
    n=st.integers(min_value=1, max_value=10_000),
    name=ident,
    body=literal_body,
)
@settings(max_examples=200, deadline=None)
def test_transpile_idempotent(n, name, body):
    sql = f"SELECT TOP {n} [{name}], ISNULL(a, '{body}') FROM t WHERE LEN(x) > 1"
    once = transpile(sql)
    assert transpile(once) == once


@given(
    cols=st.lists(ident.map(lambda s: s.replace(" ", "_")), min_size=1, max_size=4),
)
@settings(max_examples=100, deadline=None)
def test_ansi_passthrough_unchanged(cols):
    # no T-SQL constructs → byte-identical passthrough
    collist = ", ".join(re.sub(r"^(\d)", r"c\1", c) for c in cols)
    sql = f"SELECT {collist} FROM t WHERE x = 1 GROUP BY {collist}"
    assert transpile(sql) == sql


# -- round 8: MERGE parser + QUALIFY rewrite properties ----------------------


_KEYWORDS = {"merge", "into", "using", "on", "when", "matched", "then",
             "update", "set", "delete", "insert", "values", "as", "not",
             "by", "source", "target", "and"}
_sql_name = st.from_regex(r"[a-z][a-z0-9_]{0,14}", fullmatch=True).filter(
    lambda s: s not in _KEYWORDS
)


@given(
    tname=_sql_name,
    alias=st.sampled_from(["t", "tgt", "x1"]),
    salias=st.sampled_from(["s", "src", "y2"]),
    cond_extra=st.sampled_from(["", " AND s.v > 3", " AND t.k < 100"]),
)
@settings(max_examples=60, deadline=None)
def test_parse_merge_requalifies_arbitrary_aliases(
    tname, alias, salias, cond_extra
):
    """Whatever aliases the user picks, captured expressions come out
    qualified as target./source. and clause structure is preserved."""
    from sparketl.dialect import parse_merge

    sql = (
        f"MERGE INTO {tname} AS {alias} USING chg AS {salias} "
        f"ON {alias}.id = {salias}.id{cond_extra.replace('s.', salias + '.').replace('t.', alias + '.')} "
        f"WHEN MATCHED THEN UPDATE SET v = {salias}.v + {alias}.v "
        f"WHEN NOT MATCHED THEN INSERT (id, v) VALUES ({salias}.id, {salias}.v)"
    )
    spec = parse_merge(sql)
    assert spec is not None and spec["target"] == tname
    assert "target.id = source.id" in spec["condition"]
    for a in (alias, salias):
        if a not in ("target", "source"):
            assert re.search(rf"\b{a}\.", spec["condition"]) is None
    cats = [(c[0], c[1]) for c in spec["clauses"]]
    assert cats == [("matched", "update"), ("not_matched", "insert")]
    assert spec["clauses"][0][2]["v"].replace(" ", "") == "source.v+target.v"


@given(
    n=st.integers(min_value=1, max_value=99),
    col=st.sampled_from(["a", "b", "price"]),
)
@settings(max_examples=40, deadline=None)
def test_qualify_rewrite_structure(n, col):
    """The rewrite always produces the EXCEPT-wrapped shape with the
    predicate intact and no QUALIFY keyword left, and is idempotent
    through transpile (the output contains no QUALIFY to re-fire)."""
    sql = (
        f"SELECT {col}, g FROM t QUALIFY ROW_NUMBER() OVER "
        f"(PARTITION BY g ORDER BY {col}) <= {n}"
    )
    out = transpile(sql)
    assert "QUALIFY" not in out.upper().replace("__SPARKETL_Q", "")
    assert f"<= {n}" in out and "EXCEPT (__sparketl_q)" in out
    assert transpile(out) == out


@given(
    n=st.integers(min_value=1, max_value=99),
    col=st.sampled_from(["a", "b", "price"]),
    n_ctes=st.integers(min_value=1, max_value=3),
    q_in=st.integers(min_value=0, max_value=3),
    main_q=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_qualify_in_cte_rewrite_structure(n, col, n_ctes, q_in, main_q):
    """r9: QUALIFY inside any depth-0 WITH member body (and optionally
    the main query too) rewrites — no QUALIFY keyword survives, every
    predicate lands intact, non-QUALIFY member bodies pass through,
    and the result is idempotent through transpile."""
    parts = []
    for i in range(n_ctes):
        body = f"SELECT {col}, g FROM t{i}"
        if i == min(q_in, n_ctes - 1):
            body += (
                f" QUALIFY ROW_NUMBER() OVER "
                f"(PARTITION BY g ORDER BY {col}) <= {n}"
            )
        parts.append(f"c{i} AS ({body})")
    main = f"SELECT * FROM c{n_ctes - 1}"
    if main_q:
        main += (
            f" QUALIFY RANK() OVER (ORDER BY {col}) = {n}"
        )
    sql = "WITH " + ", ".join(parts) + " " + main
    out = transpile(sql)
    assert "QUALIFY" not in out.upper().replace("__SPARKETL_Q", "")
    assert f"<= {n}" in out
    if main_q:
        assert f"= {n}" in out
    # every CTE name survives in order
    pos = -1
    for i in range(n_ctes):
        nxt = out.find(f"c{i} AS (")
        assert nxt > pos
        pos = nxt
    assert transpile(out) == out


@given(
    n=st.integers(min_value=1, max_value=99),
    col=st.sampled_from(["a", "b", "price"]),
    depth=st.integers(min_value=1, max_value=3),
    double_wrap=st.booleans(),
    main_q=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_qualify_in_derived_table_rewrite_structure(
    n, col, depth, double_wrap, main_q
):
    """r10: QUALIFY inside arbitrarily nested derived tables (and
    optionally the main query too) rewrites — no QUALIFY survives,
    the predicate lands intact, double-wrapped ((SELECT …)) resolves,
    and the result is idempotent through transpile."""
    inner = (
        f"SELECT {col}, g FROM t QUALIFY ROW_NUMBER() OVER "
        f"(PARTITION BY g ORDER BY {col}) <= {n}"
    )
    body = f"(({inner}))" if double_wrap else f"({inner})"
    sql = f"SELECT * FROM {body} d0"
    for i in range(1, depth):
        sql = f"SELECT * FROM ({sql}) d{i}"
    if main_q:
        sql += f" QUALIFY RANK() OVER (ORDER BY {col}) = {n}"
    out = transpile(sql)
    assert "QUALIFY" not in out.upper().replace("__SPARKETL_Q", "")
    assert f"<= {n}" in out
    if main_q:
        assert f"= {n}" in out
    assert transpile(out) == out


@given(
    n_branches=st.integers(min_value=2, max_value=4),
    q_mask=st.integers(min_value=1, max_value=15),
    ops=st.lists(
        st.sampled_from(
            ["UNION", "UNION ALL", "INTERSECT", "EXCEPT", "UNION DISTINCT"]
        ),
        min_size=3,
        max_size=3,
    ),
    tail=st.booleans(),
    star_except=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_qualify_in_setop_branches_rewrite_structure(
    n_branches, q_mask, ops, tail, star_except
):
    """r11: QUALIFY in any subset of set-operator branches rewrites
    per-branch — no QUALIFY survives, every operator keyword survives
    in order, non-QUALIFY branches pass through byte-identical, a
    `* EXCEPT (...)` projection never trips the split, the set-level
    ORDER BY tail stays after the last branch, and the result is
    idempotent through transpile."""
    branches = []
    for i in range(n_branches):
        sel = "* EXCEPT (h)" if (star_except and i == 0) else f"g{i}"
        b = f"SELECT {sel} FROM t{i}"
        if q_mask & (1 << i):
            b += f" QUALIFY RANK() OVER (ORDER BY g{i}) = {i + 1}"
        branches.append(b)
    sql = branches[0]
    for i in range(1, n_branches):
        sql += f" {ops[(i - 1) % len(ops)]} {branches[i]}"
    if tail:
        sql += " ORDER BY 1 LIMIT 7"
    out = transpile(sql)
    assert "QUALIFY" not in out.upper().replace("__SPARKETL_Q", "")
    pos = -1
    for i in range(1, n_branches):
        op_word = ops[(i - 1) % len(ops)].split()[0]
        nxt = out.find(f" {op_word} ", pos + 1)
        assert nxt > pos, (op_word, out)
        pos = nxt
    for i in range(n_branches):
        if q_mask & (1 << i):
            assert f"= {i + 1}" in out
        elif not (star_except and i == 0):
            assert f"SELECT g{i} FROM t{i}" in out
    if tail:
        assert out.rstrip().endswith("ORDER BY 1 LIMIT 7")
    assert transpile(out) == out


# -- invariant 6: layout invariance ------------------------------------------

# One statement per rewrite: TOP, OFFSET/FETCH, every _rewrite_call
# name, _FUNC_MAP names, string concatenation (and the number+string
# refusal), QUALIFY in a CTE / derived table / set-op branches,
# CROSS/OUTER APPLY, ASOF (bracket-quoted right sides too), and MERGE
# with SET, VALUES, INSERT * and CASE … END in a SET value or a WHEN
# condition.
LAYOUT_CORPUS = {
    "top_brackets": "SELECT TOP 5 [id] FROM t ORDER BY [id]",
    "distinct_top_paren": "SELECT DISTINCT TOP (3) a FROM t ORDER BY a;",
    "top_twice_refused": (
        "SELECT TOP 2 a FROM t UNION ALL SELECT TOP 4 b FROM u"
    ),
    "offset_rows": "SELECT a FROM t ORDER BY a OFFSET 95 ROWS",
    "offset_fetch_nested": (
        "SELECT * FROM (SELECT a FROM t ORDER BY a OFFSET 3 ROWS FETCH "
        "FIRST 4 ROW ONLY) s"
    ),
    "fetch_without_only_refused": (
        "SELECT a FROM t ORDER BY a OFFSET 10 ROWS FETCH NEXT 5 ROWS"
    ),
    "dateadd": (
        "SELECT DATEADD(day, 7, d), DATEADD(month, n + 1, d), "
        "DATEADD(year, 2, d) FROM t"
    ),
    "datediff": "SELECT DATEDIFF(day, a, b), DATEDIFF(month, a, b) FROM t",
    "datediff_hour_refused": "SELECT DATEDIFF(hour, a, b) FROM t",
    "convert": (
        "SELECT CONVERT(INT, id), CONVERT(VARCHAR(3), x), "
        "TRY_CONVERT(DECIMAL(10, 2), y) FROM t"
    ),
    "datepart_datename_datetrunc": (
        "SELECT DATEPART(year, d), DATENAME(month, d), DATETRUNC(month, "
        "d) FROM t"
    ),
    "datepart_week_refused": "SELECT DATEPART(week, d) FROM t",
    "stuff_square_choose": (
        "SELECT STUFF(s, 2, 3, 'xy'), SQUARE(x + 1), CHOOSE(n, 'a', "
        "'b') FROM t"
    ),
    "eomonth_quotename_patindex": (
        "SELECT EOMONTH(d, 2), QUOTENAME(c), PATINDEX('%abc%', c) FROM "
        "t"
    ),
    "parsename_isnumeric": (
        "SELECT PARSENAME('a.b.c', 1), ISNUMERIC(col) FROM t"
    ),
    "string_split": "SELECT value FROM STRING_SPLIT('a b', ' ') s",
    "format_refused": "SELECT FORMAT(x, 'N2') FROM t",
    "func_map": (
        "SELECT ISNULL(a, b), LEN(c), GETDATE(), IIF(a > 1, 'hi', 'lo') "
        "FROM t"
    ),
    "string_concat": "SELECT a + ' / ' + b, 'x' + [c] FROM t",
    "number_plus_string_refused": "SELECT 'x' + 1 FROM t",
    "signed_number_plus_string_refused": "SELECT '2' + -1",
    "qualify_cte": (
        "WITH c0 AS (SELECT a, g FROM t QUALIFY ROW_NUMBER() OVER "
        "(PARTITION BY g ORDER BY a) <= 2) SELECT * FROM c0 ORDER BY a"
    ),
    "qualify_derived_distinct": (
        "SELECT * FROM (SELECT DISTINCT g FROM t QUALIFY RANK() OVER "
        "(ORDER BY g) = 1) d"
    ),
    "qualify_setop_branches": (
        "SELECT g FROM t QUALIFY RANK() OVER (ORDER BY g) = 1 UNION ALL "
        "SELECT * EXCEPT (h) FROM u QUALIFY RANK() OVER (ORDER BY g) = "
        "2 ORDER BY g"
    ),
    "qualify_in_call_refused": "SELECT f(a QUALIFY b) FROM t",
    "cross_apply": (
        "SELECT * FROM a CROSS APPLY (SELECT TOP 2 x FROM b WHERE b.k = "
        "a.k ORDER BY x) s"
    ),
    "outer_apply_string_split": (
        "SELECT * FROM a OUTER APPLY STRING_SPLIT(a.c, '|') s"
    ),
    "apply_tvf_refused": "SELECT * FROM a CROSS APPLY some_tvf(a.k) s",
    "asof": (
        "SELECT e.id, p.px FROM q e ASOF JOIN prices p ON e.sym = p.sym "
        "AND e.ts >= p.ts WHERE e.id > 0"
    ),
    "asof_left_subquery": (
        "SELECT * FROM q e ASOF LEFT JOIN (SELECT * FROM prices) p ON "
        "DATEADD(day, 1, e.[t]) >= p.[t]"
    ),
    "merge_set_values": (
        "MERGE INTO accounts AS tgt USING changes AS s ON tgt.[id] = "
        "s.[id] WHEN MATCHED AND s.bal < 0 THEN DELETE WHEN MATCHED "
        "THEN UPDATE SET name = ISNULL(s.name, tgt.name), tgt.[bal] = "
        "s.bal WHEN NOT MATCHED THEN INSERT (id, name, bal) VALUES "
        "(s.id, s.name, s.bal * 2);"
    ),
    "merge_insert_star": (
        "MERGE accounts t USING (SELECT TOP 1 * FROM raw ORDER BY id) s "
        "ON t.id = s.id WHEN NOT MATCHED BY SOURCE THEN DELETE WHEN NOT "
        "MATCHED THEN INSERT *"
    ),
    "merge_positional_values": (
        "MERGE INTO t USING s ON t.id = s.id WHEN NOT MATCHED THEN "
        "INSERT VALUES (s.id, 'x' + s.name)"
    ),
    "merge_case_set": (
        "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN UPDATE "
        "SET v = CASE WHEN s.v > 0 THEN s.v ELSE 0 END, w = s.w"
    ),
    "merge_case_condition": (
        "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED AND CASE WHEN "
        "s.v > 0 THEN 1 ELSE CASE WHEN s.w > 0 THEN 1 END END = 1 THEN "
        "DELETE WHEN NOT MATCHED THEN INSERT *"
    ),
    "asof_bracket_alias": (
        "SELECT * FROM e ASOF JOIN prices AS [p] ON e.s = [p].s AND "
        "e.ts >= p.ts"
    ),
    "asof_bracket_table": (
        "SELECT * FROM e ASOF JOIN [prices] ON e.s = [prices].s AND "
        "e.ts >= [prices].ts"
    ),
}

# a token of the clean text: literal, bracket name, word/number,
# multi-character operator, or any other single character
_LAYOUT_TOKEN = re.compile(
    r"'(?:[^']|'')*'|\[(?:[^\]]|\]\])+\]|\w+(?:\.\d+)?|<=|>=|<>|!=|\|\||\S"
)
# what normalisation keeps: literals verbatim, comments and space dropped
_NORM_TOKEN = re.compile(r"('(?:[^']|'')*')|--[^\n]*|\s+")
_NOISE = st.sampled_from(["", " ", "\n\t ", " -- c\n", " -- )\n"])


def _normalise(value):
    if isinstance(value, str):
        return _NORM_TOKEN.sub(lambda m: m.group(1) or "", value)
    if isinstance(value, dict):
        return {_normalise(k): _normalise(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_normalise(v) for v in value]
    return value


def _front_end(sql):
    """What Engine.execute makes of *sql*, normalised: a MERGE spec,
    the Spark SQL, or a refusal."""
    try:
        spec = parse_merge(sql)
        return _normalise(spec if spec is not None else transpile(sql))
    except DialectError:
        return "refused"


@pytest.mark.parametrize("clean", LAYOUT_CORPUS.values(), ids=LAYOUT_CORPUS.keys())
@given(data=st.data())
@settings(max_examples=25, deadline=None)
def test_layout_never_changes_a_rewrite(clean, data):
    toks = list(_LAYOUT_TOKEN.finditer(clean))
    noise = data.draw(
        st.lists(_NOISE, min_size=len(toks) + 1, max_size=len(toks) + 1)
    )
    pieces, pos = [], 0
    for tok, extra in zip(toks, noise):
        pieces += [clean[pos : tok.start()], extra, tok.group()]
        pos = tok.end()
    noisy = "".join(pieces) + clean[pos:] + noise[-1]
    assert _front_end(noisy) == _front_end(clean), noisy
