"""SQL dialect conformance layer.

The reference accepts a Calcite/Postgres-flavored dialect through a custom
sqlparser-rs dialect (src/dialect.rs:12-150) that rewrites a handful of
constructs DataFusion cannot parse. Spark SQL parses almost all of it
natively; this module textually pre-rewrites only the few constructs Spark's
parser rejects or mis-interprets:

- ``CEIL(x TO unit)`` / ``FLOOR(x TO unit)``  (reference dialect.rs:48-80)
  → ``timestampceil(x, 'unit')`` / ``date_trunc('unit', x)``.
- ``expr SIMILAR TO 'pattern'``  (reference RegexOperation, call.py:401-504)
  → ``regexp_like(expr, '^transpiled$')`` — SQL-regex → Java-regex
  transpile of ``%``/``_`` with escape handling.
- ``RAND_INTEGER([seed,] n)``  (reference call.py:809-881)
  → ``CAST(FLOOR(RAND([seed]) * n) AS INT)``.

Everything else (FILTER clauses, TABLESAMPLE, DISTRIBUTE BY, grouping sets,
EXISTS/IN subqueries, window frames…) parses natively in Spark SQL and is
deliberately NOT touched here. String literals are recognised by ONE
grammar, ``_LITERAL_RE`` (``'...'`` with ``''`` escapes; an unterminated
literal runs to the end), exposed as ``literal_spans`` and
``mask_literals``. Patterns inside quotes are never mangled: rewrites that
cannot touch a literal run on the text between literals
(``_rewrite_outside_literals``), rewrites whose match may begin with a
literal skip matches starting inside one (``_sub_skipping_literals``), and
clause scans (QUALIFY, ORDER BY, top-level commas) run on the masked text
and slice the original at the same offsets. ``plans/statements.py``,
``Context`` and the JDBC shim use the same two helpers.

Known, intentional reference divergence — integer literal width: the
reference plans bare integer literals as Int64 (DataFusion typing,
src/expression.rs:518-549), so ``SELECT (((0+67)*70)*(71*(75*86)))``
returns 2,147,785,500 there. This engine keeps Spark's INT32 literal
typing under ANSI mode and raises ARITHMETIC_OVERFLOW — exactly as the
DuckDB oracle does (OutOfRange on INT32 multiply), so engine and oracle
agree; the differential fuzz suite asserts error PARITY for this class
(tests/test_expr_fuzz.py). Users who want the reference's behavior can
CAST a literal to BIGINT; an implicit literal-widening rewrite was
considered and rejected as it would silently change every INT-typed
output column to BIGINT.
"""

from __future__ import annotations

import re

_UNITS = (
    "MILLENNIUM|CENTURY|DECADE|YEAR|QUARTER|MONTH|WEEK|DAY|HOUR|MINUTE|"
    "SECOND|MILLISECOND|MICROSECOND"
)


# Characters that are regex metacharacters but plain literals in SQL's
# SIMILAR TO dialect (reference SimilarOperation.replacement_chars,
# call.py:491-500). '|', '*', '+', '?', '()', '{}' keep their regex meaning.
_SIMILAR_LITERAL_CHARS = frozenset("#$^.~-")


def sql_similar_to_regex(pattern: str, escape: str | None = None) -> str:
    """Translate a SQL SIMILAR TO pattern into an anchored Java regex.

    SIMILAR TO is SQL-regex: ``%`` = ``.*``, ``_`` = ``.``, while retaining
    a subset of POSIX-regex metacharacters (``|``, ``*``, ``+``, ``()``,
    ``[]``, ``{}``); ``# $ ^ . ~ -`` are literals and get escaped. The escape
    character defaults to backslash. ``[...]`` character ranges pass through
    untouched. Mirrors the reference's transpiler semantics
    (call.py:401-504, SimilarOperation) without copying its implementation.
    """
    if not escape:
        escape = "\\"
    out = []
    in_char_range = False
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if in_char_range:
            out.append(ch)
            if ch == "]":
                in_char_range = False
        elif ch == escape and i + 1 < len(pattern):
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        elif ch in _SIMILAR_LITERAL_CHARS:
            out.append("\\" + ch)
        elif ch == "[":
            out.append(ch)
            in_char_range = True
        elif ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(ch)
        i += 1
    # (?s): reference matches with re.DOTALL; non-capturing group so a
    # top-level alternation stays anchored (^a|b$ would otherwise match any
    # string containing the wrong thing)
    return "(?s)^(?:" + "".join(out) + ")$"


# the front door's one string-literal grammar (module docstring); group 1
# is None for an unterminated literal
_LITERAL_RE = re.compile(r"'(?:[^']|'')*(')?")


def literal_spans(sql: str) -> list[tuple[int, int]]:
    """(start, end) offsets of every quoted string literal (quotes included)."""
    return [m.span() for m in _LITERAL_RE.finditer(sql)]


def _blank_literal(m: re.Match) -> str:
    closed = m.group(1) is not None
    return "'" + " " * (m.end() - m.start() - 1 - closed) + "'" * closed


def mask_literals(sql: str) -> str:
    """Same-length copy of ``sql`` with every literal's interior blanked to
    spaces and its quotes kept, so keyword, paren and comma scans cannot
    see string data; offsets into the mask index the original."""
    return _LITERAL_RE.sub(_blank_literal, sql)


def split_top_commas(sql: str) -> list[str]:
    """Split on commas at paren depth 0 outside string literals; the
    pieces are unstripped slices of ``sql``."""
    parts: list[str] = []
    depth = last = 0
    for m in re.finditer(r"[(),]", mask_literals(sql)):
        ch = m.group()
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            parts.append(sql[last : m.start()])
            last = m.end()
    parts.append(sql[last:])
    return parts


def _rewrite_outside_literals(sql: str, fn) -> str:
    """Apply ``fn`` to every stretch of ``sql`` between string literals."""
    out: list[str] = []
    last = 0
    for start, end in literal_spans(sql):
        out += [fn(sql[last:start]), sql[start:end]]
        last = end
    out.append(fn(sql[last:]))
    return "".join(out)


def _sub_skipping_literals(pattern: re.Pattern, repl, sql: str) -> str:
    """``pattern.sub(repl, sql)``, but a match whose start offset falls
    STRICTLY INSIDE a quoted string literal is left untouched.

    Used for the rewrites whose matched text may legitimately *contain or
    begin with* a literal (``SUBSTRING('lit' FROM -3)``, ``CEIL(TIMESTAMP
    '...' TO DAY)``, ``expr SIMILAR TO 'pat'``) and therefore cannot run
    through the chunk-masked ``_rewrite_outside_literals`` — without this
    guard, keyword-looking text inside an ordinary string value (e.g.
    ``SELECT 'use SUBSTRING(x FROM 2)' AS tip``) would be mutated. A match
    starting exactly AT a literal's opening quote is allowed only when it
    extends BEYOND that literal (the literal-as-first-operand case,
    ``'x' SIMILAR TO 'p'``); a match confined within one literal is that
    literal's own content — e.g. ``''' SIMILAR TO '''`` is a single
    literal whose value is ``' SIMILAR TO '``, which the regex would
    otherwise misread as an empty-string SIMILAR TO expression. Offsets
    are computed on the input string, which is what ``re.sub`` iterates
    over, so spans stay valid.
    """
    spans = literal_spans(sql)

    def guarded(m: re.Match) -> str:
        s, e = m.start(), m.end()
        for lo, hi in spans:
            if lo < s < hi:  # starts strictly inside a literal
                return m.group(0)
            if s == lo and e <= hi:  # confined within one literal
                return m.group(0)
            if lo >= e:
                break
        return repl(m)

    return pattern.sub(guarded, sql)


_CEIL_FLOOR_RE = re.compile(
    r"\b(CEIL|CEILING|FLOOR)\s*\(\s*([^()]+?)\s+TO\s+(" + _UNITS + r")\s*\)",
    re.IGNORECASE,
)

_RAND_INTEGER_RE = re.compile(
    r"\bRAND_INTEGER\s*\(\s*(?:(\d+)\s*,\s*)?([^()]+?)\s*\)", re.IGNORECASE
)

# expr SIMILAR TO 'pattern' [ESCAPE 'c']  — expr is a conservative token run
_SIMILAR_RE = re.compile(
    r"('(?:[^']|'')*'|[A-Za-z_][\w.]*(?:\s*\([^()]*\))?)\s+(NOT\s+)?SIMILAR\s+TO\s+"
    r"'((?:[^']|'')*)'(?:\s+ESCAPE\s+'(.)')?",
    re.IGNORECASE,
)


# one-unit INTERVAL literal per trunc unit: Spark's interval grammar has
# no QUARTER (and WEEK is safer as 7 DAY), although date_trunc supports
# both — the reference itself only implements DAY..MICROSECOND
# (call.py:791-805, NotImplementedError beyond), so everything here is
# a superset of its surface.
_CEIL_STEP = {"QUARTER": "'3' MONTH", "WEEK": "'7' DAY"}


def _ceil_step(unit: str) -> str:
    return _CEIL_STEP.get(unit, f"'1' {unit}")


def _ceil_floor_repl(m: re.Match) -> str:
    """``CEIL``/``FLOOR`` of group 2 to the unit in group 3; group 1 names
    the function. Serves both ``CEIL(x TO unit)`` and ``TIMESTAMPCEIL(x,
    'unit')``."""
    fn, expr, unit = m.group(1).upper(), m.group(2), m.group(3).upper()
    trunc = f"date_trunc('{unit}', {expr})"
    if fn == "FLOOR":
        return trunc
    # CEIL: truncate, and if truncation changed the value, add one unit
    return (
        f"CASE WHEN {trunc} = CAST({expr} AS TIMESTAMP) THEN {trunc} "
        f"ELSE {trunc} + INTERVAL {_ceil_step(unit)} END"
    )


def _rand_integer_repl(m: re.Match) -> str:
    seed, high = m.group(1), m.group(2)
    rand = f"RAND({seed})" if seed else "RAND()"
    return f"CAST(FLOOR({rand} * ({high})) AS INT)"


# C-style strftime tokens → Java datetime pattern (reference
# dsql_totimestamp accepts %Y-%m-%d style formats, call.py:628-651)
_C_TO_JAVA = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd",
    "%H": "HH", "%M": "mm", "%S": "ss", "%f": "SSSSSS",
    # the reference accepts any strptime token (call.py:632-641 defers
    # to datetime.strptime / dd.to_datetime); map the rest of the
    # common surface onto Java DateTimeFormatter equivalents
    "%b": "MMM", "%B": "MMMM", "%a": "EEE", "%A": "EEEE",
    # %z: Python strptime accepts +HHMM, +HH:MM and literal 'Z'; no single
    # Java token covers all three ('XX' = Z/+HHMM, 'XXX' = Z/+HH:MM), so
    # c_format_to_java_variants() expands a %z format into both candidates
    # and DSQL_TOTIMESTAMP COALESCEs over them. (+HHMMSS offsets are not
    # supported — vanishingly rare and unrepresentable in one formatter.)
    "%I": "hh", "%p": "a", "%j": "DDD", "%z": "XX",
}


def c_format_to_java(fmt: str, overrides: dict[str, str] | None = None) -> str:
    """Tokenize a strftime format into a Java DateTimeFormatter pattern.

    ``%X`` directives map through the token table; ``%%`` is a literal
    percent; everything else is literal TEXT — and any literal run
    containing a letter must be single-quoted, because Java reserves all
    of a-zA-Z as pattern letters (the reference parses via
    datetime.strptime, where ``'%Y-%m-%dT%H:%M:%S'`` and
    ``'%d at %H'``-style formats are routine; unquoted they raise
    INVALID_DATETIME_PATTERN here)."""
    table = _C_TO_JAVA if overrides is None else {**_C_TO_JAVA, **overrides}
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if lit:
            text = "".join(lit)
            if any(ch.isalpha() for ch in text):
                out.append("'" + text.replace("'", "''") + "'")
            else:
                out.append(text)
            lit.clear()

    i, n = 0, len(fmt)
    while i < n:
        if fmt[i] == "%" and i + 1 < n:
            tok = fmt[i : i + 2]
            if tok == "%%":
                lit.append("%")
                i += 2
                continue
            j = table.get(tok)
            if j is not None:
                flush()
                out.append(j)
                i += 2
                continue
        lit.append(fmt[i])
        i += 1
    flush()
    return "".join(out)


def c_format_to_java_variants(fmt: str) -> list[str]:
    """All Java pattern candidates for a strftime format, most common
    first. Formats without %z yield one candidate; %z yields the +HHMM/'Z'
    form ('XX') then the +HH:MM/'Z' form ('XXX')."""
    if "%z" not in fmt:
        return [c_format_to_java(fmt)]
    return [c_format_to_java(fmt, {"%z": tok}) for tok in ("XX", "XXX")]


# first-argument matcher tolerating two levels of nested parens (enough
# for CAST(fn(col) AS T)-shaped arguments)
_ARG = r"((?:[^,()']|'(?:[^']|'')*'|\((?:[^()']|'(?:[^']|'')*'|\([^()]*\))*\))+?)"

_DSQL_TOTIMESTAMP_RE = re.compile(
    r"\bDSQL_TOTIMESTAMP\s*\(\s*" + _ARG + r"\s*,\s*'((?:[^']|'')*)'\s*\)",
    re.IGNORECASE,
)

_TIMESTAMP_CEIL_FLOOR_RE = re.compile(
    r"\bTIMESTAMP(CEIL|FLOOR)\s*\(\s*" + _ARG + r"\s*,\s*'(\w+)'\s*\)",
    re.IGNORECASE,
)


def _dsql_totimestamp_repl(m: re.Match) -> str:
    expr = m.group(1)
    # int epochs go through timestamp_seconds, strings through
    # try_to_timestamp; a %z format expands to both offset-token variants.
    # Java patterns may contain single quotes (literal-text quoting), so
    # SQL-escape them when embedding in the rewritten call.
    tries = ", ".join(
        "try_to_timestamp(CAST({} AS STRING), '{}')".format(
            expr, fmt.replace("'", "''")
        )
        for fmt in c_format_to_java_variants(m.group(2))
    )
    return (
        f"COALESCE({tries}, "
        f"timestamp_seconds(try_cast(CAST({expr} AS STRING) AS BIGINT)))"
    )


# EXTRACT units Spark lacks: CENTURY/DECADE/MILLENNIUM/MILLISECONDS/
# MICROSECONDS/EPOCH (reference call.py:909-960). Semantics follow
# Postgres/DuckDB (century(2021)=21, milliseconds = within-minute,
# truncated) — the reference's own formulas for century/millennium/
# millisecond deviate from Postgres (trunc(year/100), 1000*µs); we
# follow the standard, verified against DuckDB.
_EXTRACT_EXT_RE = re.compile(
    r"\bEXTRACT\s*\(\s*(CENTUR(?:Y|IES)|DECADES?|MILLENN?IUMS?"
    r"|MILLISECONDS?|MICROSECONDS?|EPOCH)\s+FROM\s+([^()]+?)\s*\)",
    re.IGNORECASE,
)


def _extract_ext_repl(m: re.Match) -> str:
    unit, e = m.group(1).upper(), m.group(2)
    us = f"unix_micros(CAST({e} AS TIMESTAMP))"
    if unit.startswith("CENTUR"):
        return f"CAST(FLOOR((YEAR({e}) - 1) / 100) + 1 AS BIGINT)"
    if unit.startswith("DECADE"):
        return f"CAST(FLOOR(YEAR({e}) / 10) AS BIGINT)"
    if unit.startswith("MILLEN"):
        return f"CAST(FLOOR((YEAR({e}) - 1) / 1000) + 1 AS BIGINT)"
    # pmod, not %: Spark's % follows the dividend's sign, so pre-1970
    # timestamps (negative unix_micros) would come back negative while
    # the reference surface (Postgres/DuckDB EXTRACT) is the always-
    # non-negative seconds-within-minute. pmod == % for positive epochs.
    if unit.startswith("MICROSECOND"):
        return f"pmod({us}, 60000000)"
    if unit.startswith("MILLISECOND"):
        return f"(pmod({us}, 60000000) DIV 1000)"
    return f"({us} / 1000000.0)"  # EPOCH


# SUBSTRING/SUBSTR start clamping — the reference clamps start <= 0 to the
# string head and keeps the requested length (call.py:532-540:
# `if start <= 0: start = 0; end = length + start`); Spark's (and
# DuckDB's) negative start counts from the END. Clamp with GREATEST so
# both the FROM/FOR and comma forms behave reference-exactly. The first
# argument uses _ARG (quoted literals + two paren levels) and the
# rewrite runs on the full text — the old chunk-masked `[^()]+?` form
# silently left `SUBSTRING('lit' FROM -3 FOR 6)` and nested-call
# arguments on Spark's from-the-end semantics.
_SUBSTRING_FROM_RE = re.compile(
    r"\bSUBSTRING\s*\(\s*" + _ARG + r"\s+FROM\s+([^()]+?)"
    r"(?:\s+FOR\s+([^()]+?))?\s*\)",
    re.IGNORECASE,
)
_SUBSTR_COMMA_RE = re.compile(
    r"\bSUBSTR(?:ING)?\s*\(\s*" + _ARG + r"\s*,\s*([^(),]+?)\s*"
    r"(?:,\s*([^(),]+?)\s*)?\)",
    re.IGNORECASE,
)


def _substring_repl(m: re.Match) -> str:
    """Both SUBSTRING forms: string, start and optional length are groups
    1-3."""
    a, s, ln = m.group(1), m.group(2), m.group(3)
    if ln is not None:
        return f"SUBSTRING({a}, GREATEST({s}, 1), {ln})"
    return f"SUBSTRING({a}, GREATEST({s}, 1))"


# numeric TRUNCATE(x [, d]) — Calcite/reference surface (call.py truncate);
# Spark's trunc() is dates-only, so rewrite to exact integer-scaling math.
# Args must not contain nested parens (the reference's own tests use
# simple operands); TRUNCATE TABLE never matches (requires parens).
_TRUNCATE_RE = re.compile(
    r"\bTRUNCATE\s*\(\s*([^(),]+?)\s*(?:,\s*([^(),]+?)\s*)?\)", re.IGNORECASE
)


def _truncate_repl(m: re.Match) -> str:
    x, d = m.group(1), m.group(2) or "0"
    return (
        f"(CAST(({x}) * POWER(10, {d}) AS BIGINT) / POWER(10, {d}))"
    )


_QUALIFY_RE = re.compile(r"\bQUALIFY\b", re.IGNORECASE)
_PAREN_OR_QUALIFY_RE = re.compile(r"[()]|\bQUALIFY\b", re.IGNORECASE)
# what ends a QUALIFY predicate: the statement tail (ORDER BY/LIMIT/
# OFFSET) or a set operation joining the NEXT query block (UNION/
# INTERSECT/EXCEPT/MINUS — QUALIFY binds to its own block, so the
# wrapper encloses only the left branch and the tail keeps the rest)
_QUALIFY_TAIL_RE = re.compile(
    r"\b(?:ORDER\s+BY|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|MINUS)\b",
    re.IGNORECASE,
)
# a set-operation keyword STARTS the query block a QUALIFY belongs to when
# it precedes the QUALIFY at depth 0: the wrapper head must begin AFTER the
# last such keyword (QUALIFY in the RIGHT branch of `... UNION ALL SELECT
# ... QUALIFY p` binds to the right SELECT only, not the combined rows).
# `SELECT * EXCEPT (cols)` is a select-list modifier, not a set operation —
# discriminated by the preceding `*`.
_QUALIFY_SETOP_RE = re.compile(
    r"\b(?:UNION|INTERSECT|EXCEPT|MINUS)\b(?:\s+(?:ALL|DISTINCT)\b)?",
    re.IGNORECASE,
)

# ORDER BY default null placement: the reference follows Calcite/Postgres
# (ASC → NULLS LAST, DESC → NULLS FIRST — "nulls are largest"); Spark's
# native default is the opposite. Sort items without an explicit
# NULLS FIRST/LAST get the reference's placement appended so `ORDER BY`
# (top-level, subquery, and window OVER(...)) behaves reference-exactly.
_ORDER_BY_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
_ORDER_ITEM_END_RE = re.compile(
    r"\b(?:LIMIT|OFFSET|FETCH|ROWS|RANGE|GROUPS|WINDOW|UNION|INTERSECT"
    r"|EXCEPT|QUALIFY)\b",
    re.IGNORECASE,
)
_HAS_NULLS_RE = re.compile(r"\bNULLS\s+(?:FIRST|LAST)\s*$", re.IGNORECASE)
_DESC_TAIL_RE = re.compile(r"\bDESC\s*$", re.IGNORECASE)


def _fix_order_items(list_sql: str) -> str:
    """Append the reference default placement to items lacking one."""
    out = []
    for item in split_top_commas(list_sql):
        body = item.rstrip()
        pad = item[len(body):]
        if not body or _HAS_NULLS_RE.search(body):
            out.append(item)
        elif _DESC_TAIL_RE.search(body):
            out.append(body + " NULLS FIRST" + pad)
        else:
            out.append(body + " NULLS LAST" + pad)
    return ",".join(out)


def rewrite_order_by_nulls(sql: str) -> str:
    """Give every ORDER BY item the reference's default null placement."""
    # right-to-left so earlier offsets stay valid; re-mask after every
    # splice, as an outer item list can span an inner ORDER BY
    for m in reversed(list(_ORDER_BY_RE.finditer(mask_literals(sql)))):
        masked = mask_literals(sql)
        start = m.end()
        depth = 0
        end = len(sql)
        for i in range(start, len(masked)):
            ch = masked[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    end = i
                    break
                depth -= 1
            elif depth == 0 and _ORDER_ITEM_END_RE.match(masked, i):
                end = i
                break
        sql = sql[:start] + _fix_order_items(sql[start:end]) + sql[end:]
    return sql


def _depth0(masked: str) -> list[bool]:
    """True at positions of literal-masked text at paren depth 0 — the only
    places clause keywords can legally start."""
    out: list[bool] = []
    depth = 0
    for ch in masked:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(depth - 1, 0)
        out.append(depth == 0)
    return out


def _find_nested_qualify(sql: str) -> tuple[int, int] | None:
    """(open_idx, close_idx) of the innermost paren pair containing the
    first depth>0 QUALIFY outside string literals, or None."""
    stack: list[int] = []
    target_open = None
    for m in _PAREN_OR_QUALIFY_RE.finditer(mask_literals(sql)):
        tok = m.group()
        if tok == "(":
            stack.append(m.start())
        elif tok == ")":
            if stack:
                po = stack.pop()
                if po == target_open:
                    return po, m.start()
        elif target_open is None and stack:
            target_open = stack[-1]
    return None


def rewrite_qualify(sql: str) -> str:
    """Rewrite ``QUALIFY <pred>`` clauses (DuckDB / Snowflake / BigQuery
    dialect; Spark has no QUALIFY) into a window-materializing wrapper::

        SELECT * EXCEPT (__qualify__) FROM (
          SELECT *, (<pred>) AS __qualify__ FROM (<head>) __qualify_src
        ) __qualify_out WHERE __qualify__  <order-by/limit tail>

    The predicate's window functions evaluate over the head query's output
    rows — QUALIFY semantics (filter AFTER the select list and windows).
    QUALIFY inside a parenthesized subquery is handled by rewriting that
    subquery's content recursively (innermost first), so derived tables /
    CTE bodies / IN-subqueries all work. Limitation: the predicate can
    only reference columns its own query block outputs.
    """
    # nested QUALIFYs first: splice the rewritten innermost subquery back
    # and repeat until only a top-level clause (or none) remains
    for _ in range(64):  # safety bound; real nesting is shallow
        loc = _find_nested_qualify(sql)
        if loc is None:
            break
        po, pc = loc
        inner = sql[po + 1 : pc]
        rewritten = rewrite_qualify(inner)
        if rewritten == inner:
            break  # defensive: never loop on an unrewritable segment
        sql = sql[: po + 1] + rewritten + sql[pc:]

    masked = mask_literals(sql)
    top = _depth0(masked)
    m = next(
        (mm for mm in _QUALIFY_RE.finditer(masked) if top[mm.start()]), None
    )
    if m is None:
        return sql
    tail_m = next(
        (
            tm
            for tm in _QUALIFY_TAIL_RE.finditer(masked, m.end())
            if top[tm.start()]
        ),
        None,
    )
    tail_start = tail_m.start() if tail_m else len(sql)
    # head starts after the LAST depth-0 set-op keyword preceding the
    # QUALIFY (right-branch case); `* EXCEPT (cols)` is skipped — it is a
    # select-list modifier, not a set operation
    head_start = 0
    for sm in _QUALIFY_SETOP_RE.finditer(masked, 0, m.start()):
        if not top[sm.start()]:
            continue
        if sql[: sm.start()].rstrip().endswith("*"):
            continue
        head_start = sm.end()
    prefix = sql[:head_start].rstrip() + " " if head_start else ""
    head = sql[head_start : m.start()].strip()
    pred = sql[m.end() : tail_start].strip()
    # the tail may hold further set-op branches with their own QUALIFYs
    tail = rewrite_qualify(sql[tail_start:].strip())
    out = (
        f"{prefix}SELECT * EXCEPT (__qualify__) FROM ("
        f"SELECT *, ({pred}) AS __qualify__ FROM ({head}) __qualify_src"
        f") __qualify_out WHERE __qualify__"
    )
    return f"{out} {tail}" if tail else out


# ANSI/Calcite row-limit syntax Spark lacks: OFFSET n ROWS is already
# Spark's OFFSET; FETCH {FIRST|NEXT} [n] {ROW|ROWS} ONLY → LIMIT n
_FETCH_FIRST_RE = re.compile(
    r"\bFETCH\s+(?:FIRST|NEXT)\s+(?:(\d+)\s+)?ROWS?\s+ONLY\b",
    re.IGNORECASE,
)


def _fetch_first_repl(m: re.Match) -> str:
    return f"LIMIT {m.group(1) or 1}"


def rewrite(sql: str) -> str:
    """Apply all dialect rewrites to a SQL string (string literals are left
    untouched except where they are the SIMILAR TO pattern itself)."""
    sql = rewrite_qualify(sql)
    sql = _rewrite_outside_literals(
        sql, lambda chunk: _FETCH_FIRST_RE.sub(_fetch_first_repl, chunk)
    )
    sql = rewrite_order_by_nulls(sql)

    # CEIL(x TO unit) exprs may contain literals (TIMESTAMP '...'), so
    # these run on the full text with a literal-span guard: a match that
    # STARTS inside a quoted string is skipped (it is string data, not SQL).
    sql = _sub_skipping_literals(_CEIL_FLOOR_RE, _ceil_floor_repl, sql)
    sql = _sub_skipping_literals(_DSQL_TOTIMESTAMP_RE, _dsql_totimestamp_repl, sql)
    sql = _sub_skipping_literals(_TIMESTAMP_CEIL_FLOOR_RE, _ceil_floor_repl, sql)
    sql = _rewrite_outside_literals(
        sql, lambda chunk: _RAND_INTEGER_RE.sub(_rand_integer_repl, chunk)
    )
    sql = _rewrite_outside_literals(
        sql, lambda chunk: _TRUNCATE_RE.sub(_truncate_repl, chunk)
    )
    # the EXTRACT expr may itself contain a literal (TIMESTAMP '...'), so
    # this runs on the full text with the literal-span guard
    sql = _sub_skipping_literals(_EXTRACT_EXT_RE, _extract_ext_repl, sql)
    # SUBSTRING/SUBSTR args may be string literals or nested calls, so
    # these run on the full text with the literal-span guard (a match
    # starting inside a string value must not be rewritten)
    sql = _sub_skipping_literals(_SUBSTRING_FROM_RE, _substring_repl, sql)
    sql = _sub_skipping_literals(_SUBSTR_COMMA_RE, _substring_repl, sql)

    # SIMILAR TO spans a literal, so run on the full text
    def _similar_repl(m: re.Match) -> str:
        expr, neg, pat, esc = m.group(1), m.group(2), m.group(3), m.group(4)
        regex = sql_similar_to_regex(pat.replace("''", "'"), esc)
        regex_sql = regex.replace("'", "''").replace("\\", "\\\\")
        base = f"regexp_like({expr}, '{regex_sql}')"
        return f"NOT {base}" if neg else base

    sql = _sub_skipping_literals(_SIMILAR_RE, _similar_repl, sql)
    return sql
