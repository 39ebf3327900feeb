"""Dialect rewriter unit tests (reference: RegexOperation call.py:401-504,
dialect.rs:48-150)."""

import re

from dask_sql_spark.dialect import (
    rewrite,
    sql_similar_to_regex,
)


def test_similar_to_basic():
    assert sql_similar_to_regex("a%") == "(?s)^(?:a.*)$"
    assert sql_similar_to_regex("a_c") == "(?s)^(?:a.c)$"
    # POSIX metachars survive (that's what distinguishes SIMILAR TO from LIKE)
    assert sql_similar_to_regex("(a|b)%") == "(?s)^(?:(a|b).*)$"


def test_similar_to_escape():
    assert sql_similar_to_regex("!%x", escape="!") == "(?s)^(?:%x)$"
    assert sql_similar_to_regex("a!_b", escape="!") == "(?s)^(?:a_b)$"


def test_similar_to_literal_metachars():
    # reference SimilarOperation (call.py:491-500): '#', '$', '^', '.', '~',
    # '-' are SQL literals, so 'a.c' must NOT match 'abc'
    assert not re.match(sql_similar_to_regex("a.c"), "abc")
    assert re.match(sql_similar_to_regex("a.c"), "a.c")
    assert re.match(sql_similar_to_regex("x#_%"), "x#1y")
    assert not re.match(sql_similar_to_regex("$%"), "dollar")


def test_similar_to_default_backslash_escape():
    # no ESCAPE clause → backslash escapes, matching the reference default
    assert re.match(sql_similar_to_regex("a\\%c"), "a%c")
    assert not re.match(sql_similar_to_regex("a\\%c"), "abc")


def test_similar_to_char_range_passthrough():
    # [...] ranges keep their regex meaning, including '-' and '^' inside
    rgx = sql_similar_to_regex("[a-c]%")
    assert re.match(rgx, "banana") and not re.match(rgx, "zebra")
    rgx = sql_similar_to_regex("[^x]%")
    assert re.match(rgx, "yes") and not re.match(rgx, "xeno")


def test_like_escape_clause_parsed_by_spark(context):
    # LIKE ... ESCAPE reaches Spark's own parser: '!%' is a literal '%'
    row = context.sql(
        "SELECT 'a%b' LIKE 'a!%b' ESCAPE '!' AS hit, "
        "'axb' LIKE 'a!%b' ESCAPE '!' AS miss"
    ).collect()[0]
    assert row.hit is True and row.miss is False


def test_rewrite_similar_to():
    out = rewrite("SELECT a SIMILAR TO 'x%' FROM t")
    assert "regexp_like(a, '(?s)^(?:x.*)$')" in out


def test_rewrite_not_similar_to():
    out = rewrite("SELECT a NOT SIMILAR TO 'x%' FROM t")
    assert "NOT regexp_like" in out


def test_rewrite_ceil_floor_to_unit():
    out = rewrite("SELECT FLOOR(ts TO DAY) FROM t")
    assert "date_trunc('DAY', ts)" in out
    out = rewrite("SELECT CEIL(ts TO MONTH) FROM t")
    assert "date_trunc('MONTH', ts)" in out and "INTERVAL '1' MONTH" in out


def test_dsql_totimestamp_strptime_tokens(context):
    """DSQL_TOTIMESTAMP accepts C-strptime formats (reference
    call.py:632-641 defers to datetime.strptime); the token map must
    cover month names, 12-hour + AM/PM and day-of-year, and unparseable
    strings come back NULL (try_to_timestamp), with integer epochs
    falling through to timestamp_seconds."""
    row = context.sql(
        "SELECT DSQL_TOTIMESTAMP('04 Mar 2021 05:06 PM', '%d %b %Y %I:%M %p') AS a, "
        "DSQL_TOTIMESTAMP('2021-100', '%Y-%j') AS b, "
        "DSQL_TOTIMESTAMP('March 04, 2021', '%B %d, %Y') AS d, "
        "DSQL_TOTIMESTAMP('garbage', '%Y-%m-%d') AS n, "
        "DSQL_TOTIMESTAMP(1614834367, '%Y') AS ep "
        "FROM df_simple LIMIT 1"
    ).collect()[0]
    assert str(row.a) == "2021-03-04 17:06:00"
    assert str(row.b) == "2021-04-10 00:00:00"  # day-of-year 100
    assert str(row.d) == "2021-03-04 00:00:00"
    assert row.n is None
    assert str(row.ep) == "2021-03-04 05:06:07"


def test_substring_clamp_literal_and_nested_args(context):
    """The clamp rewrite must also fire when the first argument is a
    string literal or a nested call — the old chunk-masked pattern
    silently left those on Spark's from-the-end semantics. Reference
    call.py:532-540: start <= 0 clamps to the head, requested length
    kept."""
    row = context.sql(
        "SELECT SUBSTRING('hello' FROM -3 FOR 6) AS a, "
        "SUBSTRING(TRIM('  hello  ') FROM -2 FOR 4) AS b, "
        "SUBSTR('hello', -3, 2) AS d, "
        "SUBSTRING('hello' FROM 2 FOR 3) AS e "
        "FROM df_simple LIMIT 1"
    ).collect()[0]
    assert (row.a, row.b, row.d, row.e) == ("hello", "hell", "he", "ell")


def test_ceil_to_quarter_and_week(context):
    """Spark's interval grammar has no QUARTER (and WEEK is safer as
    7 DAY) even though date_trunc supports both — the CEIL step must go
    through the unit→interval map or `CEIL(ts TO QUARTER)` is a parse
    error. Superset of the reference surface (call.py:791-805 implements
    only DAY..MICROSECOND)."""
    row = context.sql(
        "SELECT CEIL(TIMESTAMP '2021-02-15 10:31:02' TO QUARTER) AS q, "
        "CEIL(TIMESTAMP '2021-04-01 00:00:00' TO QUARTER) AS q_edge, "
        "CEIL(TIMESTAMP '2021-02-15 10:31:02' TO WEEK) AS w, "
        "TIMESTAMPCEIL(TIMESTAMP '2021-02-15 10:31:02', 'QUARTER') AS fq "
        "FROM df_simple LIMIT 1"
    ).collect()[0]
    assert str(row.q) == "2021-04-01 00:00:00"
    assert str(row.q_edge) == "2021-04-01 00:00:00"  # on-boundary: no step
    assert str(row.w) == "2021-02-22 00:00:00"
    assert str(row.fq) == "2021-04-01 00:00:00"


def test_rewrite_rand_integer():
    assert "FLOOR(RAND() * (10))" in rewrite("SELECT RAND_INTEGER(10)")
    assert "RAND(7)" in rewrite("SELECT RAND_INTEGER(7, 10)")


def test_rewrite_leaves_plain_sql_alone():
    q = "SELECT a, b FROM t WHERE a LIKE 'x%' AND b > 3"
    assert rewrite(q) == q


def test_rewrite_skips_string_literals():
    q = "SELECT 'RAND_INTEGER(10)' AS s"
    assert rewrite(q) == q


def test_fulltext_rewrites_skip_matches_inside_literals():
    """The full-text rewrites (SUBSTRING clamp, CEIL-TO, EXTRACT,
    DSQL_TOTIMESTAMP, SIMILAR TO) must not mutate keyword-looking text
    inside ordinary string VALUES — r7 ADVICE: the clamp rewrite was
    changing `'use SUBSTRING(x FROM 2) here'` to a different literal."""
    for q in (
        "SELECT 'use SUBSTRING(x FROM 2) here' AS tip FROM t",
        "SELECT 'try SUBSTR(name, 2, 3) maybe' AS tip FROM t",
        "SELECT 'CEIL(ts TO DAY) then EXTRACT(EPOCH FROM ts)' AS doc FROM t",
        "SELECT 'x SIMILAR TO ''a%'' matches' AS doc FROM t",
        "SELECT 'DSQL_TOTIMESTAMP(a, ''%Y'') parses' AS doc FROM t",
    ):
        assert rewrite(q) == q, q
    # …while a literal AS the first argument still rewrites
    out = rewrite("SELECT SUBSTRING('hello' FROM -3 FOR 6) AS a")
    assert "GREATEST(-3, 1)" in out
    # a literal as the SIMILAR TO left operand still rewrites
    out = rewrite("SELECT 'abc' SIMILAR TO 'a%' AS m")
    assert "regexp_like" in out
    # …but a single literal whose CONTENT merely looks like a SIMILAR TO
    # expression (escaped quotes) is one span and must stay verbatim
    q = "SELECT ''' SIMILAR TO ''' AS s FROM t"
    assert rewrite(q) == q


def test_rewrite_preserves_every_literal_verbatim():
    """Property: whatever the rewrites do around them, quoted string
    VALUES come through character-for-character (hypothesis over an
    alphabet dense in rewrite keywords)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(
        lit=st.text(
            st.sampled_from(list("abS SUBSTRINGFROMCEILTODAYEXTRACT()%z,'" )),
            max_size=24,
        )
    )
    def check(lit):
        esc = lit.replace("'", "''")
        q = (
            f"SELECT '{esc}' AS s, SUBSTRING(c_name FROM -2 FOR 3) AS t "
            f"FROM customer WHERE c_name SIMILAR TO 'C%'"
        )
        out = rewrite(q)
        assert f"'{esc}'" in out, (lit, out)
        assert "GREATEST(-2, 1)" in out
        assert "regexp_like" in out

    check()


def test_dsql_totimestamp_literal_text_and_percent(context):
    """r8 audit: strftime formats may contain literal TEXT (ISO 'T',
    prose like ' at ') and '%%' percent escapes — datetime.strptime (the
    reference path) parses them as literals, but Java reserves every
    letter as a pattern letter, so unquoted they raised
    INVALID_DATETIME_PATTERN. The tokenizer now single-quotes literal
    runs containing letters and maps %% to a literal percent."""
    row = context.sql(
        "SELECT DSQL_TOTIMESTAMP('2021-03-04T05:06:07', '%Y-%m-%dT%H:%M:%S') AS a, "
        "DSQL_TOTIMESTAMP('2021-03-04 at 05:06', '%Y-%m-%d at %H:%M') AS b, "
        "DSQL_TOTIMESTAMP('% 2021', '%% %Y') AS p "
        "FROM df_simple LIMIT 1"
    ).collect()[0]
    assert str(row.a) == "2021-03-04 05:06:07"
    assert str(row.b) == "2021-03-04 05:06:00"
    assert str(row.p) == "2021-01-01 00:00:00"


def test_dsql_totimestamp_offset_forms(context):
    """%z parity with Python strptime (reference defers to
    datetime.strptime, call.py:632-641): +HHMM, +HH:MM and literal 'Z'
    must all parse — Java 'XX' alone rejects '+05:30', so the rewrite
    COALESCEs over the 'XX' and 'XXX' token variants. Session TZ is UTC,
    so a +0530 input lands at 23:36:07 the previous day."""
    row = context.sql(
        "SELECT DSQL_TOTIMESTAMP('2021-03-04 05:06:07 +0530', '%Y-%m-%d %H:%M:%S %z') AS a, "
        "DSQL_TOTIMESTAMP('2021-03-04 05:06:07 +05:30', '%Y-%m-%d %H:%M:%S %z') AS b, "
        "DSQL_TOTIMESTAMP('2021-03-04 05:06:07 Z', '%Y-%m-%d %H:%M:%S %z') AS z "
        "FROM df_simple LIMIT 1"
    ).collect()[0]
    assert str(row.a) == "2021-03-03 23:36:07"
    assert row.b == row.a
    assert str(row.z) == "2021-03-04 05:06:07"


def test_qualify_rewrite_top2_per_group(context):
    out = context.sql(
        """
        SELECT user_id, b,
          ROW_NUMBER() OVER (PARTITION BY b ORDER BY user_id) AS rn
        FROM user_table_1
        QUALIFY ROW_NUMBER() OVER (PARTITION BY b ORDER BY user_id) <= 1
        ORDER BY b
        """
    ).collect()
    assert [(r.b, r.user_id) for r in out] == [(1, 2), (3, 1)]
    assert all(r.rn == 1 for r in out)


def test_qualify_with_alias_and_limit(context):
    out = context.sql(
        """
        SELECT user_id, RANK() OVER (ORDER BY user_id) AS r
        FROM user_table_2
        QUALIFY r <= 2
        ORDER BY user_id LIMIT 3
        """
    ).collect()
    assert [r.user_id for r in out] == [1, 1]


def test_qualify_over_group_by_via_output_alias(context):
    """QUALIFY after GROUP BY: windows over the aggregated rows work
    when the predicate references the head query's OUTPUT columns (the
    documented contract — raw aggregate expressions like SUM(v) inside
    QUALIFY are not re-resolvable post-aggregation and raise Spark's
    unresolved-column error; use the select-list alias instead)."""
    import pandas as pd

    context.create_table(
        "qgb", pd.DataFrame({"g": ["a", "a", "b", "b", "b"], "v": [1, 2, 3, 4, 5]})
    )
    out = context.sql(
        "SELECT g, SUM(v) AS s FROM qgb WHERE v > 1 GROUP BY g "
        "QUALIFY ROW_NUMBER() OVER (ORDER BY s DESC) = 1"
    ).collect()
    assert [(r.g, r.s) for r in out] == [("b", 12)]


def test_qualify_right_branch_of_set_op(context):
    """r9 advisor fix: QUALIFY in the RIGHT branch of a set operation
    binds to its own block — the wrapper head starts after the last
    depth-0 set-op keyword, so the window never sees the combined rows."""
    rows = sorted(
        (r.user_id, r.b)
        for r in context.sql(
            """SELECT user_id, b FROM user_table_1 WHERE user_id = 1
               UNION ALL
               SELECT user_id, b FROM user_table_1
               QUALIFY ROW_NUMBER() OVER (ORDER BY b, user_id) = 1"""
        ).collect()
    )
    # left branch keeps (1,3); right branch's QUALIFY picks only ITS
    # min-(b,user_id) row (2,1) — the buggy rewrite filtered both down
    # to a single row
    assert rows == [(1, 3), (2, 1)]
    both = sorted(
        (r.user_id, r.b)
        for r in context.sql(
            """SELECT user_id, b FROM user_table_1
               QUALIFY ROW_NUMBER() OVER (ORDER BY b, user_id) = 1
               UNION ALL
               SELECT user_id, b FROM user_table_1
               QUALIFY ROW_NUMBER() OVER (ORDER BY b DESC, user_id DESC) = 1"""
        ).collect()
    )
    assert both == [(2, 1), (3, 3)]


def test_qualify_star_except_not_a_set_op():
    """`SELECT * EXCEPT (cols)` is a select-list modifier: the EXCEPT must
    not be mistaken for a set-operation boundary when locating the
    QUALIFY head."""
    from dask_sql_spark.dialect import rewrite_qualify

    out = rewrite_qualify(
        "SELECT * EXCEPT (a) FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY b) = 1"
    )
    assert "FROM (SELECT * EXCEPT (a) FROM t) __qualify_src" in out


def test_qualify_inside_subquery_and_cte(context):
    """r8 audit: QUALIFY nested in a derived table / CTE body / both
    levels at once rewrites recursively (innermost first) — previously a
    documented limitation that surfaced as a confusing Spark parse
    error."""
    rows = context.sql(
        """SELECT g, b FROM (
             SELECT user_id AS g, b FROM user_table_1
             QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY b) = 1
           ) ORDER BY g"""
    ).collect()
    # one min-b row per user_id (QUALIFY filtered inside the derived
    # table), then sorted by g by the outer ORDER BY
    assert [(r.g, r.b) for r in rows] == [(1, 3), (2, 1), (3, 3)]
    n = context.sql(
        """WITH top1 AS (
             SELECT user_id, b FROM user_table_1
             QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY b) = 1
           ) SELECT COUNT(*) AS n FROM top1"""
    ).collect()[0].n
    assert n == context.sql(
        "SELECT COUNT(DISTINCT user_id) AS n FROM user_table_1"
    ).collect()[0].n
    both = context.sql(
        """SELECT g, b FROM (
             SELECT user_id AS g, b FROM user_table_1
             QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY b) <= 2
           ) QUALIFY ROW_NUMBER() OVER (ORDER BY b DESC, g DESC) = 1"""
    ).collect()
    assert len(both) == 1


def test_qualify_before_set_operation(context):
    """r8 audit: QUALIFY binds to its own query block, so a following
    UNION/EXCEPT must end the predicate (previously swallowed into it —
    a parse error). The wrapper encloses only the left branch; a trailing
    ORDER BY still applies to the whole set result."""
    rows = sorted(
        r.user_id
        for r in context.sql(
            """SELECT user_id FROM user_table_1
               QUALIFY ROW_NUMBER() OVER (ORDER BY user_id) = 1
               UNION ALL SELECT user_id FROM user_table_1 WHERE user_id = 3"""
        ).collect()
    )
    assert rows == [1, 3]
    ordered = [
        r.user_id
        for r in context.sql(
            """SELECT user_id FROM user_table_1
               QUALIFY ROW_NUMBER() OVER (ORDER BY user_id) = 1
               UNION ALL SELECT user_id FROM user_table_1 WHERE user_id = 3
               ORDER BY user_id DESC"""
        ).collect()
    ]
    assert ordered == [3, 1]


def test_qualify_untouched_when_absent():
    from dask_sql_spark.dialect import rewrite_qualify

    sql = "SELECT 'has QUALIFY inside a literal' AS s FROM t"
    assert rewrite_qualify(sql) == sql
    # nested QUALIFY now rewrites (r8: recursive subquery handling) —
    # the subquery content gets the wrapper, the outer query is untouched
    nested = "SELECT * FROM (SELECT a FROM t QUALIFY x) q"
    out = rewrite_qualify(nested)
    assert out.startswith("SELECT * FROM (") and out.endswith(") q")
    assert "__qualify__" in out
    # no bare QUALIFY keyword remains (the __qualify_*__ aliases are fine)
    assert not re.search(r"(?<![\w])QUALIFY(?![\w])", out, re.IGNORECASE)


def test_truncate_rewrite_numeric(context):
    out = context.sql(
        "SELECT TRUNCATE(3.789, 1) AS a, TRUNCATE(-2.55, 1) AS b, "
        "TRUNCATE(987.6, 0) AS c, TRUNCATE(3.999) AS d FROM df_simple LIMIT 1"
    ).collect()[0]
    assert (out.a, out.b, out.c, out.d) == (3.7, -2.5, 987.0, 3.0)


def test_default_null_ordering_matches_reference(context):
    """Reference semantics (tests/integration/test_sort.py:95-130): plain
    ASC puts nulls LAST, plain DESC puts nulls FIRST — the opposite of
    Spark's native default."""
    import pandas as pd

    context.create_table(
        "null_sort_t",
        pd.DataFrame({"a": pd.array([1, None, 2], dtype="Int64")}),
    )
    asc = [r.a for r in context.sql("SELECT a FROM null_sort_t ORDER BY a").collect()]
    assert asc == [1, 2, None]
    desc = [r.a for r in context.sql("SELECT a FROM null_sort_t ORDER BY a DESC").collect()]
    assert desc == [None, 2, 1]
    # explicit placement still wins
    expl = [
        r.a
        for r in context.sql(
            "SELECT a FROM null_sort_t ORDER BY a NULLS FIRST"
        ).collect()
    ]
    assert expl == [None, 1, 2]
    # window default follows the same rule: the null ranks LAST on ASC
    rk = {
        r.a: r.rk
        for r in context.sql(
            "SELECT a, ROW_NUMBER() OVER (ORDER BY a) AS rk FROM null_sort_t"
        ).collect()
    }
    assert rk[None] == 3 and rk[1] == 1


def test_substring_negative_start_matches_reference(context):
    """Reference call.py:532-546 clamps start <= 0 to the head and keeps
    the length; Spark natively counts negative starts from the END."""
    import pandas as pd

    context.create_table("sub_t", pd.DataFrame({"a": ["a normal string"]}))
    row = context.sql(
        """
        SELECT SUBSTRING(a FROM -1) AS o,
               SUBSTRING(a FROM -1 FOR 4) AS f4,
               SUBSTRING(a FROM 0 FOR 3) AS z3,
               SUBSTRING(a FROM 2 FOR 2) AS r,
               SUBSTR(a, -5, 3) AS s3,
               SUBSTRING(a, 3, 6) AS pos
        FROM sub_t
        """
    ).collect()[0]
    assert row.o == "a normal string"
    assert row.f4 == "a no"
    assert row.z3 == "a n"
    assert row.r == " n"
    assert row.s3 == "a n"
    assert row.pos == "normal"


def test_extract_extended_units(context):
    row = context.sql(
        "SELECT EXTRACT(CENTURY FROM TIMESTAMP '2021-10-03 15:53:42.000047') AS c, "
        "EXTRACT(DECADE FROM TIMESTAMP '2021-10-03 15:53:42.000047') AS d, "
        "EXTRACT(MILLENNIUM FROM TIMESTAMP '2021-10-03 15:53:42.000047') AS m, "
        "EXTRACT(MICROSECONDS FROM TIMESTAMP '2021-10-03 15:53:42.000047') AS us, "
        "EXTRACT(MILLISECONDS FROM TIMESTAMP '2021-10-03 15:53:42.999999') AS ms "
        "FROM df_simple LIMIT 1"
    ).collect()[0]
    # Postgres/DuckDB semantics (the reference's own trunc(year/100)
    # formula deviates from the standard — documented in COVERAGE.md)
    assert (row.c, row.d, row.m, row.us, row.ms) == (21, 202, 3, 42000047, 42999)


def test_extract_subsecond_units_pre_1970(context):
    """MICROSECONDS/MILLISECONDS are the NON-NEGATIVE seconds-within-
    minute (Postgres/DuckDB EXTRACT) even for negative unix epochs:
    Spark's % follows the dividend's sign, so the rewrite must use pmod
    or every pre-1970 timestamp comes back negative (differential-
    verified vs DuckDB over 1900/1960/1969 + the 1970 boundary)."""
    row = context.sql(
        "SELECT EXTRACT(MICROSECONDS FROM TIMESTAMP '1969-12-31 23:59:30.123456') AS us69, "
        "EXTRACT(MILLISECONDS FROM TIMESTAMP '1969-12-31 23:59:30.123456') AS ms69, "
        "EXTRACT(MICROSECONDS FROM TIMESTAMP '1900-01-01 00:00:00.25') AS us00, "
        "EXTRACT(MICROSECONDS FROM TIMESTAMP '1970-01-01 00:00:00') AS usep, "
        "EXTRACT(MICROSECONDS FROM TIMESTAMP '1969-12-31 23:59:59.999999') AS usmx "
        "FROM df_simple LIMIT 1"
    ).collect()[0]
    assert (row.us69, row.ms69, row.us00, row.usep, row.usmx) == (
        30123456, 30123, 250000, 0, 59999999,
    )


def test_fetch_first_rewrites_to_limit():
    from dask_sql_spark.dialect import rewrite

    assert rewrite("SELECT 1 FETCH FIRST 5 ROWS ONLY").endswith("LIMIT 5")
    assert rewrite("SELECT 1 FETCH NEXT 3 ROWS ONLY").endswith("LIMIT 3")
    assert rewrite("SELECT 1 FETCH FIRST ROW ONLY").endswith("LIMIT 1")
    # literals stay untouched
    assert "FETCH FIRST 5 ROWS ONLY" in rewrite(
        "SELECT 'FETCH FIRST 5 ROWS ONLY' AS s"
    )


def test_order_by_subquery_item_with_its_own_order_by():
    """The last ORDER BY item may be a subquery with its own ORDER BY:
    both get the default placement (this used to raise IndexError)."""
    assert rewrite(
        "SELECT a FROM t ORDER BY (SELECT max(x) FROM u ORDER BY y)"
    ) == (
        "SELECT a FROM t ORDER BY "
        "(SELECT max(x) FROM u ORDER BY y NULLS LAST) NULLS LAST"
    )
