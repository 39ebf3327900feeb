"""Property-based check of the SIMILAR TO → regex transpiler against
DuckDB's native SIMILAR TO (hypothesis fuzz; mirrors the spirit of the
reference's randomized compatibility corpus at the unit level)."""

import re

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dask_sql_spark.dialect import sql_similar_to_regex

# pattern alphabet: literals + regex metacharacters. NOTE: %/_ are
# excluded — DuckDB's SIMILAR TO is plain full-match regex and does NOT
# expand SQL wildcards (Postgres/Calcite, which the reference follows,
# does). The wildcard translation is pinned by unit tests in
# test_dialect.py instead; this fuzz covers passthrough + anchoring.
_PATTERN_CHARS = st.sampled_from(list("abc|*+()"))
_TARGET_CHARS = st.sampled_from(list("abc"))


def _valid_pattern(p: str) -> bool:
    """Keep only patterns DuckDB accepts (balanced parens etc.)."""
    try:
        duckdb.execute(f"SELECT 'x' SIMILAR TO '{p}'").fetchone()
        return True
    except Exception:
        return False


@settings(max_examples=150, deadline=None)
@given(
    pattern=st.text(_PATTERN_CHARS, min_size=1, max_size=8),
    target=st.text(_TARGET_CHARS, min_size=0, max_size=6),
)
def test_similar_to_matches_duckdb(pattern, target):
    if not _valid_pattern(pattern):
        return
    expected = duckdb.execute(
        "SELECT ? SIMILAR TO ?", [target, pattern]
    ).fetchone()[0]
    regex = sql_similar_to_regex(pattern)
    try:
        actual = re.match(regex, target) is not None
    except re.error:
        pytest.fail(f"transpiled regex invalid: {pattern!r} -> {regex!r}")
    assert actual == expected, (
        f"pattern={pattern!r} target={target!r} regex={regex!r}"
    )


# ------------------- quoted-identifier fuzz (VERDICT #8) ------------------- #
_IDENT_START = st.sampled_from(list("abcxyz_"))
_IDENT_CHARS = st.text(st.sampled_from(list("abcxyz_019")), min_size=0, max_size=6)


@st.composite
def _identifier(draw):
    return draw(_IDENT_START) + draw(_IDENT_CHARS)


class _FakeCtx:
    """Just enough Context surface to drive _qualify_schema_tables."""

    from dask_sql_spark.context import Context as _C

    _qualify_schema_tables = _C._qualify_schema_tables
    _rewrite_unqualified_tables = _C._rewrite_unqualified_tables
    _view_name = _C._view_name

    def __init__(self, schema, table, current="root"):
        import types

        self.schemas = {
            "root": types.SimpleNamespace(tables={}),
            schema: types.SimpleNamespace(tables={table: None}),
        }
        self.schema_name = current


@settings(max_examples=100, deadline=None)
@given(
    schema=_identifier(),
    table=_identifier(),
    quote=st.sampled_from(['', '"', '`']),
)
def test_qualifier_rewrite_quoted_forms(schema, table, quote):
    """schema.table resolves identically bare, double-quoted or backticked,
    and never inside string literals."""
    if schema == "root" or schema == table:
        return
    ctx = _FakeCtx(schema, table)
    q = f"{quote}{schema}{quote}.{quote}{table}{quote}"
    out = ctx._qualify_schema_tables(f"SELECT * FROM {q} WHERE x > 0")
    assert f"{schema}__{table}" in out
    assert quote + "." not in out.replace(f"{schema}__{table}", "")
    # string literals keep the dotted form verbatim
    lit = ctx._qualify_schema_tables(f"SELECT '{schema}.{table}' AS s")
    assert f"'{schema}.{table}'" in lit


@settings(max_examples=100, deadline=None)
@given(
    schema=_identifier(),
    table=_identifier(),
    quote=st.sampled_from(['', '"', '`']),
)
def test_qualifier_rewrite_unqualified_current_schema(schema, table, quote):
    """With USE SCHEMA active, a bare table name in table position
    (FROM/JOIN/…) rewrites to the current schema's mangled view; the
    same word as a column reference or inside a string literal is left
    alone."""
    if schema == "root" or schema == table:
        return
    if table.lower() in {"other_t", "from", "join", "into", "update", "table"}:
        return  # degenerate names the probe query itself uses
    ctx = _FakeCtx(schema, table, current=schema)
    q = f"{quote}{table}{quote}"
    out = ctx._qualify_schema_tables(f"SELECT x FROM {q} WHERE x > 0")
    assert f"FROM {schema}__{table}" in out
    # column position: untouched
    col = ctx._qualify_schema_tables(f"SELECT {table} FROM other_t")
    assert f"SELECT {table} FROM other_t" == col
    # string literals: verbatim
    lit = ctx._qualify_schema_tables(f"SELECT 'FROM {table}' AS s FROM other_t")
    assert f"'FROM {table}'" in lit


@settings(max_examples=100, deadline=None)
@given(
    parts=st.lists(_identifier(), min_size=1, max_size=3),
    quote=st.sampled_from(['', '"', '`']),
)
def test_unquote_normalizes_quoted_parts(parts, quote):
    from dask_sql_spark.plans.statements import _unquote

    quoted = ".".join(f"{quote}{p}{quote}" for p in parts)
    assert _unquote(quoted) == ".".join(parts)


@settings(max_examples=60, deadline=None)
@given(
    table=_identifier(),
    func=st.sampled_from(
        [
            "EXTRACT(YEAR FROM {t})",
            "TRIM(BOTH 'x' FROM {t})",
            "SUBSTRING({t} FROM 2)",
            "OVERLAY({t} PLACING 'z' FROM 1)",
        ]
    ),
)
def test_unqualified_rewrite_skips_from_call_syntax(table, func):
    """r9 advisor-fix property: under USE SCHEMA, a table-named column
    after a call-syntax FROM (EXTRACT/TRIM/...) is never rewritten, while
    the query's real table-position FROM still is."""
    if table == "root":
        return
    ctx = _FakeCtx("s1", table, current="s1")
    expr = func.format(t=table)
    out = ctx._qualify_schema_tables(f"SELECT {expr} FROM {table}")
    assert out == f"SELECT {expr} FROM s1__{table}"
    # a derived table nested deeper than a call re-opens table position
    out2 = ctx._qualify_schema_tables(
        f"SELECT EXTRACT(DAY FROM ({table}.c)) FROM (SELECT * FROM {table}) q"
    )
    assert f"FROM (SELECT * FROM s1__{table}) q" in out2


@settings(max_examples=50, deadline=None)
@given(
    left_max=st.integers(min_value=1, max_value=3),
    setop=st.sampled_from(["UNION ALL", "UNION", "INTERSECT", "EXCEPT"]),
    qual_side=st.sampled_from(["left", "right", "both"]),
    k=st.integers(min_value=1, max_value=2),
)
def test_qualify_set_op_branches_differential(
    context, left_max, setop, qual_side, k
):
    """r9 advisor-fix property: QUALIFY binds to its OWN branch of a set
    operation. Differential oracle computed in plain Python over the
    known df_simple fixture (a=[1,2,3], b=[1.1,2.2,3.3])."""
    data = [(1, 1.1), (2, 2.2), (3, 3.3)]
    lq = (
        f" QUALIFY ROW_NUMBER() OVER (ORDER BY a, b) <= {k}"
        if qual_side in ("left", "both")
        else ""
    )
    rq = (
        f" QUALIFY ROW_NUMBER() OVER (ORDER BY a DESC, b DESC) <= {k}"
        if qual_side in ("right", "both")
        else ""
    )
    sql = (
        f"SELECT a, b FROM df_simple WHERE a <= {left_max}{lq} "
        f"{setop} SELECT a, b FROM df_simple{rq}"
    )
    got = sorted((int(r.a), round(float(r.b), 1)) for r in context.sql(sql).collect())

    left = [r for r in data if r[0] <= left_max]
    if lq:
        left = sorted(left)[:k]
    right = list(data)
    if rq:
        right = sorted(right, reverse=True)[:k]
    if setop == "UNION ALL":
        want = sorted(left + right)
    elif setop == "UNION":
        want = sorted(set(left) | set(right))
    elif setop == "INTERSECT":
        want = sorted(set(left) & set(right))
    else:  # EXCEPT
        want = sorted(set(left) - set(right))
    assert got == want, f"sql={sql}"


@st.composite
def _dialect_query(draw):
    """A SELECT over df_simple composed from the rewriter's own surface:
    clamped SUBSTRING forms, CEIL/FLOOR TO units, extended EXTRACT,
    SIMILAR TO, DSQL_TOTIMESTAMP, optional QUALIFY (possibly nested in a
    derived table) and a keyword-laden string literal thrown in."""
    exprs = ["a", "b"]
    if draw(st.booleans()):
        start = draw(st.integers(min_value=-3, max_value=3))
        exprs.append(f"SUBSTRING(CAST(a AS STRING) FROM {start} FOR 2) AS sub")
    if draw(st.booleans()):
        unit = draw(st.sampled_from(["DAY", "MONTH", "QUARTER", "WEEK"]))
        fn = draw(st.sampled_from(["CEIL", "FLOOR"]))
        exprs.append(f"{fn}(TIMESTAMP '2021-02-15 10:31:02' TO {unit}) AS cf")
    if draw(st.booleans()):
        u = draw(st.sampled_from(["CENTURY", "DECADE", "MILLISECONDS"]))
        exprs.append(f"EXTRACT({u} FROM TIMESTAMP '2021-02-15 10:31:02') AS ex")
    if draw(st.booleans()):
        exprs.append("CAST(a AS STRING) SIMILAR TO '[12]%' AS sim")
    if draw(st.booleans()):
        exprs.append("DSQL_TOTIMESTAMP('2021-100', '%Y-%j') AS ts")
    if draw(st.booleans()):
        lit = draw(st.sampled_from([
            "use SUBSTRING(x FROM 2)", "CEIL(ts TO DAY)", "a SIMILAR TO 'b%'",
            " WHERE x = 1 ", "QUALIFY rank", "FROM t UNION ALL",
        ]))
        exprs.append("'{}' AS note".format(lit.replace("'", "''")))
    body = f"SELECT {', '.join(exprs)} FROM df_simple"
    if draw(st.booleans()):
        body += " QUALIFY ROW_NUMBER() OVER (ORDER BY a) <= 2"
        if draw(st.booleans()):
            body = f"SELECT * FROM ({body}) q"
    if draw(st.booleans()):
        body += " ORDER BY a"
    if draw(st.booleans()):
        body += " LIMIT 3"
    return body


@settings(max_examples=60, deadline=None)
@given(q=_dialect_query())
def test_rewritten_queries_always_execute(context, q):
    """Robustness property guarding future rewriter edits: any
    composition of the dialect surface (plus keyword-laden literals)
    must rewrite to SQL Spark can parse AND execute — a rewrite that
    produces a ParseException or drops a clause fails here loudly."""
    rows = context.sql(q).collect()
    assert rows is not None


# ------------------- string-literal scanner (one grammar) ------------------- #
# Text over quotes, escaped quotes, parens, commas and keywords, so literals
# open and close anywhere, hold structure, and may run unterminated.
_SQLISH = st.lists(
    st.sampled_from(
        ["'", "''", "a", "b", " ", "(", ")", ",", "=", "x", "WHERE", "QUALIFY",
         "ORDER BY", "system.jdbc.tables"]
    ),
    max_size=20,
).map("".join)
# the content of one literal: anything, quotes included (escaped on splice)
_LITERAL_BODY = st.lists(
    st.sampled_from(["'", "a", " ", "(", ")", ",", "=", "WHEN", "--"]),
    max_size=8,
).map("".join)


def _quote(body: str) -> str:
    return "'" + body.replace("'", "''") + "'"


def _reference_spans(sql: str) -> list[tuple[int, int]]:
    """Char-by-char model of the literal grammar: '' inside a literal is
    an escaped quote, an unterminated literal runs to the end."""
    spans = []
    i, n = 0, len(sql)
    while i < n:
        if sql[i] != "'":
            i += 1
            continue
        start = i
        i += 1
        while i < n:
            if sql[i] == "'":
                if i + 1 < n and sql[i + 1] == "'":
                    i += 2
                    continue
                i += 1
                break
            i += 1
        spans.append((start, i))
    return spans


def _inside_literal(sql: str, pos: int) -> bool:
    from dask_sql_spark.dialect import literal_spans

    return any(lo < pos < hi for lo, hi in literal_spans(sql))


@settings(max_examples=300, deadline=None)
@given(sql=_SQLISH)
def test_literal_spans_match_reference_model(sql):
    from dask_sql_spark.dialect import literal_spans

    assert literal_spans(sql) == _reference_spans(sql)


@settings(max_examples=300, deadline=None)
@given(sql=_SQLISH)
def test_mask_literals_blanks_only_literal_interiors(sql):
    from dask_sql_spark.dialect import mask_literals

    masked = mask_literals(sql)
    assert len(masked) == len(sql)
    interior = set()
    for lo, hi in _reference_spans(sql):
        # quotes are kept: the opening one, and the closing one if present
        interior.update(range(lo + 1, hi - 1 if _closes(sql, lo, hi) else hi))
    for i, ch in enumerate(masked):
        assert ch == (" " if i in interior else sql[i])


def _closes(sql: str, lo: int, hi: int) -> bool:
    """Whether the literal sql[lo:hi] has its closing quote: after the
    opening quote, quotes pair up as escapes and the odd one closes."""
    body = sql[lo + 1 : hi]
    return (len(body) - len(body.rstrip("'"))) % 2 == 1


@settings(max_examples=200, deadline=None)
@given(
    items=st.lists(
        st.tuples(st.sampled_from(["a", "f(b, c)", "x ="]), _LITERAL_BODY),
        min_size=1,
        max_size=4,
    )
)
def test_split_top_commas_never_splits_a_literal(items):
    from dask_sql_spark.dialect import split_top_commas
    from dask_sql_spark.plans.statements import _split_top_commas

    pieces = [f"{expr} {_quote(body)}" for expr, body in items]
    sql = ", ".join(pieces)
    raw = split_top_commas(sql)
    assert ",".join(raw) == sql
    cut = 0
    for part in raw[:-1]:
        cut += len(part)
        assert not _inside_literal(sql, cut)
        cut += 1
    assert _split_top_commas(sql) == pieces


@settings(max_examples=200, deadline=None)
@given(inner=_LITERAL_BODY, tail=_LITERAL_BODY)
def test_split_balanced_never_closes_inside_a_literal(inner, tail):
    from dask_sql_spark.plans.statements import _split_balanced

    body = f"f({_quote(inner)}), {_quote(inner)}"
    sql = f"WITH ({body}) AS {_quote(tail)}"
    assert _split_balanced(sql, sql.index("(")) == (body, f" AS {_quote(tail)}")


@settings(max_examples=200, deadline=None)
@given(s=_LITERAL_BODY, t=_LITERAL_BODY)
def test_parse_kwargs_never_splits_a_literal(s, t):
    from dask_sql_spark.plans.statements import parse_kwargs

    body = (
        f"a = {_quote(s)}, b = (g({_quote(t)}, 1)), "
        f"c = bare{_quote(t)}, d = 2"
    )
    assert parse_kwargs(body) == {
        "a": s,
        "b": f"(g({_quote(t)}, 1))",
        "c": f"bare{_quote(t)}",
        "d": 2,
    }


@settings(max_examples=100, deadline=None)
@given(before=_LITERAL_BODY, after=_LITERAL_BODY)
def test_jdbc_shim_leaves_string_literals_alone(before, after):
    """A system.jdbc name inside a string value is data: the shim passes
    the query through without touching the Context."""
    from dask_sql_spark.server.presto_jdbc import maybe_jdbc_query

    lit = _quote(f"{before}system.jdbc.tables{after}")
    assert maybe_jdbc_query(None, f"SELECT {lit} AS s FROM t") is None
