"""Custom-statement front door.

The reference extends SQL with DDL/ML statements through a 1.4k-line Rust
parser (src/parser.rs:339-550) producing DataFusion Extension nodes executed
by Python plugins (physical/rel/custom/*.py). Spark SQL already parses most
DDL natively; this module intercepts only the statements Spark does not
know, routes any embedded ``SELECT`` back through ``Context.sql`` and
executes the rest as registry operations:

| statement                                   | reference plugin            |
|---------------------------------------------|-----------------------------|
| CREATE TABLE t WITH (location=…, format=…)  | create_table.py:16-80       |
| CREATE TABLE t AS / CREATE VIEW v AS        | create_memory_table.py:14-76|
| DROP TABLE / DROP SCHEMA / DROP MODEL       | drop_table.py …             |
| CREATE SCHEMA / USE SCHEMA                  | create_catalog_schema.py    |
| SHOW SCHEMAS / TABLES / COLUMNS / MODELS    | show_*.py                   |
| ANALYZE TABLE … COMPUTE STATISTICS          | analyze_table.py:15-70      |
| CREATE MODEL / PREDICT / EXPORT MODEL /     | create_model.py:23-227,     |
|   DESCRIBE MODEL / CREATE EXPERIMENT        | predict_model.py:18-94, …   |
| OPTIMIZE t [WITH (target_bytes=…, dest=…)]  | additive (Delta/Iceberg-    |
|   — small-file compaction, swap-on-publish  | style; no reference plugin) |
| VACUUM t [WITH (dry_run=true)] — reclaim    | additive; deletes only      |
|   locations superseded by OPTIMIZE          | tracked stale locations     |

Anything not matched returns ``None`` and flows to ``spark.sql``.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from dask_sql_spark.dialect import mask_literals, split_top_commas

if TYPE_CHECKING:
    from dask_sql_spark.context import Context
    from dask_sql_spark.datacontainer import Table

_FLAGS = re.IGNORECASE | re.DOTALL

_CREATE_TABLE_WITH = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"([\w.\"`]+)\s+WITH\s*\((.*)\)\s*$",
    _FLAGS,
)
_CREATE_TABLE_AS = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(TABLE|VIEW)\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"([\w.\"`]+)\s+AS\s+(.*)$",
    _FLAGS,
)
_DROP_TABLE = re.compile(
    r"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.\"`]+)\s*$", _FLAGS
)
_DROP_MODEL = re.compile(
    r"^\s*DROP\s+MODEL\s+(IF\s+EXISTS\s+)?([\w.\"`]+)\s*$", _FLAGS
)
# CREATE [OR REPLACE] SCHEMA [IF NOT EXISTS] <name> — reference
# create_catalog_schema.py:31-43: an existing schema raises unless
# IF NOT EXISTS (no-op) or OR REPLACE (reset)
_CREATE_SCHEMA = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"([\w\"`]+)\s*$",
    _FLAGS,
)
_DROP_SCHEMA = re.compile(
    r"^\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?([\w\"`]+)\s*$", _FLAGS
)
_USE_SCHEMA = re.compile(r"^\s*USE\s+SCHEMA\s+([\w\"`]+)\s*$", _FLAGS)
_ALTER_TABLE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.\"`]+)\s+RENAME\s+TO\s+([\w.\"`]+)\s*$",
    _FLAGS,
)
_ALTER_SCHEMA = re.compile(
    r"^\s*ALTER\s+SCHEMA\s+([\w\"`]+)\s+RENAME\s+TO\s+([\w\"`]+)\s*$", _FLAGS
)
# SHOW SCHEMAS [FROM <catalog>] [LIKE '<name>'] — reference
# show_schemas.py:19-44: output includes the presto-compat
# "information_schema" row, LIKE filters by exact equality, and a
# non-default catalog raises
_SHOW_SCHEMAS = re.compile(
    r"^\s*SHOW\s+SCHEMAS(?:\s+FROM\s+([\w\"`]+))?"
    r"(?:\s+LIKE\s+(?:'((?:[^']|'')*)'|([\w$]+)))?\s*$",
    _FLAGS,
)
# SHOW TABLES FROM [<catalog>.]<schema> (reference show_tables.py:19-49)
_SHOW_TABLES = re.compile(
    r"^\s*SHOW\s+TABLES(?:\s+FROM\s+([\w.\"`]+))?\s*$", _FLAGS
)
_SHOW_COLUMNS = re.compile(r"^\s*SHOW\s+COLUMNS\s+FROM\s+([\w.\"`]+)\s*$", _FLAGS)
_SHOW_MODELS = re.compile(r"^\s*SHOW\s+MODELS\s*$", _FLAGS)
_DESCRIBE_MODEL = re.compile(r"^\s*DESCRIBE\s+MODEL\s+([\w.\"`]+)\s*$", _FLAGS)
_ANALYZE_TABLE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+([\w.\"`]+)\s+COMPUTE\s+STATISTICS\s+FOR\s+"
    r"(ALL\s+COLUMNS|COLUMNS\s+(.*))\s*$",
    _FLAGS,
)
_CREATE_MODEL_HEAD = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?MODEL\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"([\w.\"`]+)\s+WITH\s*\(",
    _FLAGS,
)
_CREATE_EXPERIMENT_HEAD = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?EXPERIMENT\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"([\w.\"`]+)\s+WITH\s*\(",
    _FLAGS,
)
_PREDICT = re.compile(
    r"^\s*SELECT\s+(.*?)\s+FROM\s+PREDICT\s*\(\s*MODEL\s+([\w.\"`]+)\s*,\s*(.*)\)\s*$",
    _FLAGS,
)
_EXPORT_MODEL = re.compile(
    r"^\s*EXPORT\s+MODEL\s+([\w.\"`]+)\s+WITH\s*\((.*)\)\s*$", _FLAGS
)
# sinks (additive — the reference has NO write path at all, SURVEY §2.8)
_INSERT_INTO = re.compile(
    r"^\s*INSERT\s+INTO\s+([\w.\"`]+)\s+(SELECT\s+.*|VALUES\s*\(.*)$", _FLAGS
)
# MERGE INTO (additive upsert; Spark supports it natively only for v2/Delta
# tables, so over registry tables it is composed from joins)
_MERGE_INTO = re.compile(
    r"^\s*MERGE\s+INTO\s+([\w.\"`]+)(?:\s+AS\s+(\w+))?\s+"
    r"USING\s+(\([\s\S]+?\)|[\w.\"`]+)(?:\s+AS\s+(\w+))?\s+"
    r"ON\s+([\s\S]+?)\s+"
    r"(WHEN\s+[\s\S]+)$",
    _FLAGS,
)
_WHEN_CLAUSE = re.compile(
    r"WHEN\s+(NOT\s+)?MATCHED\s+THEN\s+"
    r"(UPDATE\s+SET\s+[\s\S]+?|DELETE|INSERT\s*(?:\([^)]*\))?\s*VALUES\s*\([\s\S]+?\))"
    r"(?=\s*WHEN\s|\s*$)",
    _FLAGS,
)
# DELETE / UPDATE over registry tables (additive, like MERGE: Spark's
# native DML needs a v2/Delta table, so these recompute + re-register)
_DELETE_FROM = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w.\"`]+)(?:\s+WHERE\s+([\s\S]+?))?\s*$", _FLAGS
)
_UPDATE_TABLE = re.compile(
    r"^\s*UPDATE\s+([\w.\"`]+)\s+SET\s+([\s\S]+?)"
    r"(?:\s+WHERE\s+([\s\S]+?))?\s*$",
    _FLAGS,
)
_COPY_TO = re.compile(
    r"^\s*COPY\s+(\([\s\S]*\)|[\w.\"`]+)\s+TO\s+'([^']+)'"
    r"(?:\s+WITH\s*\((.*)\))?\s*$",
    _FLAGS,
)
# lakehouse-style small-file compaction (Delta/Iceberg OPTIMIZE surface)
_OPTIMIZE_TABLE = re.compile(
    r"^\s*OPTIMIZE\s+(?:TABLE\s+)?([\w.\"`]+)"
    r"(?:\s+WITH\s*\((.*)\))?\s*$",
    _FLAGS,
)
# retention cleanup of locations superseded by OPTIMIZE's swap-on-publish
_VACUUM_TABLE = re.compile(
    r"^\s*VACUUM\s+(?:TABLE\s+)?([\w.\"`]+)"
    r"(?:\s+WITH\s*\((.*)\))?\s*$",
    _FLAGS,
)


def _unquote(name: str) -> str:
    """Normalize a possibly-quoted, possibly-qualified name: strip double
    quotes / backticks per dotted part (``"s2"."t"`` → ``s2.t``). Dots
    inside quoted parts are not supported (documented limitation)."""
    parts: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    for ch in name.strip():
        if quote:
            if ch == quote:
                quote = None
            else:
                buf.append(ch)
        elif ch in ('"', "`"):
            quote = ch
        elif ch == ".":
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return ".".join(parts)


def _lookup(
    context: "Context", raw: str, missing_ok: bool = False
) -> tuple[str, str, "Table | None"]:
    """A statement's raw table name (possibly quoted and qualified) as
    (schema_name, key, record); raises ``Table X does not exist`` when no
    table is registered under it, unless ``missing_ok`` (record None)."""
    name = _unquote(raw)
    schema_name, key, record = context._resolve(name)
    if record is None and not missing_ok:
        raise RuntimeError(f"Table {name} does not exist")
    return schema_name, key, record


_PAREN_RE = re.compile(r"[()]")


def _close_paren(masked: str, open_idx: int) -> int | None:
    """Index of the ')' closing the '(' at ``open_idx`` in literal-masked
    text, or None when it is unbalanced."""
    depth = 0
    for m in _PAREN_RE.finditer(masked, open_idx):
        depth += 1 if m.group() == "(" else -1
        if depth == 0:
            return m.start()
    return None


def _split_balanced(sql: str, open_idx: int) -> tuple[str, str] | None:
    """Given the index of an opening '(', return (inner, rest-after-close)
    using paren-depth scanning that skips string literals. Needed because a
    greedy regex would mis-split ``WITH (...) AS SELECT CAST(a AS ...)``."""
    close = _close_paren(mask_literals(sql), open_idx)
    if close is None:
        return None
    return sql[open_idx + 1 : close], sql[close + 1 :]


_KWARG_KEY_RE = re.compile(r"\s*,?\s*([\w.]+)\s*=\s*", re.DOTALL)


def _coerce_kwarg(raw: str):
    raw = raw.strip()
    if raw.startswith("'") and raw.endswith("'"):
        return raw[1:-1].replace("''", "'")
    if raw.lower() in ("true", "false"):
        return raw.lower() == "true"
    try:
        return int(raw)
    except ValueError:
        try:
            return float(raw)
        except ValueError:
            return raw


def parse_kwargs(body: str) -> dict:
    """Parse the ``key = value`` list inside ``WITH ( ... )``.

    Values may be quoted strings, numbers, booleans, bare words, or
    parenthesized expressions with arbitrary nesting (reference parser.rs
    key-value grammar). Value ends are found on the literal-masked text
    (``dialect.mask_literals``): a parenthesized value runs to its
    balancing paren, not a non-greedy regex, so nested calls like
    ``steps = (List(a(1), b(2)))`` parse whole, and a comma inside a
    string literal never ends a bare value."""
    out: dict = {}
    masked = mask_literals(body)
    i, n = 0, len(body)
    while i < n:
        m = _KWARG_KEY_RE.match(body, i)
        if not m:
            break
        key = m.group(1).lower()
        i = m.end()
        if i < n and body[i] == "(":
            close = _close_paren(masked, i)
            j = n if close is None else close + 1
        elif i < n and body[i] == "'":
            # the mask keeps quotes: the next one closes this literal
            j = masked.find("'", i + 1) + 1 or n
        else:
            j = masked.find(",", i)
            j = n if j < 0 else j
        out[key] = _coerce_kwarg(body[i:j])
        i = j
    return out


def _create_with_as(
    m: re.Match, sql: str, kind: str, registry: dict
) -> tuple[str, str, str] | None:
    """The head shared by ``CREATE [OR REPLACE] MODEL|EXPERIMENT [IF NOT
    EXISTS] <name> WITH (...) AS <select>``, matched by ``m`` up to the
    opening paren. ``kind`` ("Model" or "Experiment") names the statement
    in errors; ``registry`` holds the names it already has. Returns
    ``(name, with_body, select)``, or None when IF NOT EXISTS finds the
    name registered."""
    replace, if_not_exists, name = m.groups()
    split = _split_balanced(sql, m.end() - 1)
    if split is None:
        raise ValueError(
            f"CREATE {kind.upper()}: unbalanced parentheses in WITH (...)"
        )
    body, rest = split
    rest_m = re.match(r"\s*AS\s+(.*)$", rest, _FLAGS)
    if rest_m is None:
        raise ValueError(f"CREATE {kind.upper()} requires `AS <select>`")
    name = _unquote(name)
    if name in registry and if_not_exists:
        return None
    if name in registry and not replace:
        raise RuntimeError(f"{kind} {name} already exists")
    return name, body, rest_m.group(1)


class _SpanMatch:
    """re.Match-alike whose groups slice the ORIGINAL text using the span
    of a match made on the literal-masked twin (same length)."""

    def __init__(self, m: re.Match, original: str):
        self._m = m
        self._original = original

    def group(self, idx: int = 0) -> str | None:
        s, e = self._m.span(idx)
        return None if s < 0 else self._original[s:e]

    def groups(self) -> tuple:
        return tuple(self.group(i) for i in range(1, self._m.re.groups + 1))


def _match_masked(pattern: re.Pattern, sql: str) -> _SpanMatch | None:
    """Match ``pattern`` against the literal-masked text, return a match
    proxy whose groups come from the original — for statements whose
    clause structure (WHERE/WHEN boundaries) must ignore keyword-looking
    text inside string values."""
    m = pattern.match(mask_literals(sql))
    return _SpanMatch(m, sql) if m else None


def _split_top_commas(s: str) -> list[str]:
    """Non-empty, stripped pieces of ``s`` split on top-level commas."""
    return [p.strip() for p in split_top_commas(s) if p.strip()]


def _execute_merge(context: "Context", m: re.Match) -> DataFrame:
    """MERGE INTO over a registry table, composed from joins (Spark's
    native MERGE needs a v2/Delta table).

    Supported: WHEN MATCHED THEN UPDATE SET ... | DELETE (one of the two),
    WHEN NOT MATCHED THEN INSERT [(cols)] VALUES (...). Assumes at most one
    source match per target row (ANSI MERGE raises on fan-out; here the
    fan-out would duplicate — keep merge keys unique, as a lakehouse does).
    Plan shape: one left join (update/delete) + one anti join (insert),
    both on the merge condition — shuffle-on-key, no driver materialization.
    """
    from pyspark.sql import functions as F

    target_raw, t_alias, source_raw, s_alias, cond, whens = m.groups()
    schema_name, key, record = _lookup(context, target_raw)
    target = record.df
    # unaliased names are referenced by their bare table name in ON/SET
    t_alias = t_alias or key
    if source_raw.startswith("("):
        source = context.sql(source_raw[1:-1])
        s_alias = s_alias or "__merge_src__"
    else:
        _, s_key, s_record = _lookup(context, source_raw)
        source = s_record.df
        s_alias = s_alias or s_key

    update_set: str | None = None
    do_delete = False
    insert_cols: list[str] | None = None
    insert_vals: list[str] | None = None
    # WHEN-clause boundaries found on literal-masked text (a SET value
    # like 'WHEN MATCHED THEN' must not start a new clause); the action
    # text itself is sliced from the original
    for wm in _WHEN_CLAUSE.finditer(mask_literals(whens)):
        neg = wm.group(1)
        action = whens[wm.start(2):wm.end(2)].strip()
        upper = action.upper()
        if not neg and upper.startswith("UPDATE"):
            update_set = re.sub(r"^UPDATE\s+SET\s+", "", action, flags=_FLAGS)
        elif not neg and upper == "DELETE":
            do_delete = True
        elif neg and upper.startswith("INSERT"):
            im = re.match(
                r"INSERT\s*(?:\(([^)]*)\))?\s*VALUES\s*\(([\s\S]*)\)\s*$",
                action,
                _FLAGS,
            )
            if im is None:
                raise ValueError(f"MERGE: cannot parse INSERT clause {action!r}")
            insert_cols = (
                [c.strip().strip('"`') for c in im.group(1).split(",")]
                if im.group(1)
                else list(target.columns)
            )
            insert_vals = _split_top_commas(im.group(2))
    if update_set and do_delete:
        raise ValueError(
            "MERGE: WHEN MATCHED supports UPDATE or DELETE, not both"
        )

    marker = "__merge_matched__"
    t = target.alias(t_alias)
    s = source.withColumn(marker, F.lit(True)).alias(s_alias)
    joined = t.join(s, F.expr(cond), "left")
    matched = F.col(marker).isNotNull()

    assignments = _parse_assignments(update_set) if update_set else {}

    cols = []
    for c in target.columns:
        base = F.col(f"{t_alias}.{c}")
        if c.lower() in assignments:
            cols.append(
                F.when(matched, F.expr(assignments[c.lower()]))
                .otherwise(base)
                .alias(c)
            )
        else:
            cols.append(base.alias(c))
    kept = joined.where(~matched) if do_delete else joined
    updated = kept.select(*cols)

    if insert_vals is not None:
        anti = source.alias(s_alias).join(t, F.expr(cond), "left_anti")
        by_col = dict(zip([c.lower() for c in insert_cols], insert_vals))
        ins_cols = []
        for f in target.schema.fields:
            v = by_col.get(f.name.lower())
            if v is None:
                ins_cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            else:
                ins_cols.append(F.expr(v).cast(f.dataType).alias(f.name))
        updated = updated.unionByName(anti.select(*ins_cols))

    context.create_table(key, updated, schema_name=schema_name)
    return context._empty_result()


def _parse_assignments(set_clause: str) -> dict[str, str]:
    """``a = expr, b = expr`` → {col_lower: expr}; tolerates ``t.col``."""
    out: dict[str, str] = {}
    for part in _split_top_commas(set_clause):
        k, v = part.split("=", 1)
        k = k.strip().strip('"`')
        if "." in k:
            k = k.split(".", 1)[1].strip().strip('"`')
        out[k.lower()] = v.strip()
    return out


def _execute_delete(context: "Context", m: re.Match) -> DataFrame | None:
    """DELETE FROM over a registry table: keep rows where the predicate is
    false or NULL (SQL DELETE semantics), re-register. One codegen filter
    — no shuffle, no driver materialization. None (Spark's DELETE) when
    the target is not a registry table."""
    from pyspark.sql import functions as F

    name_raw, where = m.groups()
    schema_name, key, record = _lookup(context, name_raw, missing_ok=True)
    if record is None:
        return None
    df = record.df
    kept = (
        df.where(~F.coalesce(F.expr(where), F.lit(False)))
        if where
        else df.limit(0)
    )
    context.create_table(key, kept, schema_name=schema_name)
    return context._empty_result()


def _execute_update(context: "Context", m: re.Match) -> DataFrame | None:
    """UPDATE ... SET over a registry table: CASE-rewrite the assigned
    columns under the WHERE predicate (false/NULL rows unchanged),
    re-register. Pure projection — no shuffle. None (Spark's UPDATE) when
    the target is not a registry table."""
    from pyspark.sql import functions as F

    name_raw, set_clause, where = m.groups()
    schema_name, key, record = _lookup(context, name_raw, missing_ok=True)
    if record is None:
        return None
    df = record.df
    assignments = _parse_assignments(set_clause)
    unknown = set(assignments) - {c.lower() for c in df.columns}
    if unknown:
        raise ValueError(f"UPDATE: unknown column(s) {sorted(unknown)}")
    cond = (
        F.coalesce(F.expr(where), F.lit(False)) if where else F.lit(True)
    )
    cols = []
    for f in df.schema.fields:
        v = assignments.get(f.name.lower())
        if v is None:
            cols.append(F.col(f.name))
        else:
            cols.append(
                F.when(cond, F.expr(v).cast(f.dataType))
                .otherwise(F.col(f.name))
                .alias(f.name)
            )
    context.create_table(key, df.select(*cols), schema_name=schema_name)
    return context._empty_result()


def maybe_handle_custom_statement(context: "Context", sql: str) -> DataFrame | None:
    """Try to execute ``sql`` as a custom statement; return a result
    DataFrame (possibly empty) if handled, else None."""
    from dask_sql_spark.context import local_frame

    spark = context.spark

    m = _CREATE_TABLE_WITH.match(sql)
    if m:
        replace, if_not_exists, name, body = m.groups()
        schema_name, key, record = _lookup(context, name, missing_ok=True)
        if record is not None:
            if if_not_exists:
                return context._empty_result()
            if not replace:
                raise RuntimeError(f"Table {_unquote(name)} already exists")
        kwargs = parse_kwargs(body)
        location = kwargs.pop("location", None)
        fmt = kwargs.pop("format", None)
        persist = bool(kwargs.pop("persist", False))
        if location is None:
            raise ValueError("CREATE TABLE ... WITH requires location=...")
        context.create_table(
            key,
            location,
            format=fmt,
            persist=persist,
            schema_name=schema_name,
            **kwargs,
        )
        return context._empty_result()

    m = _OPTIMIZE_TABLE.match(sql)
    if m:
        name, body = m.groups()
        schema_name, key, record = _lookup(context, name)
        location, fmt = record.location, record.format
        if location is None:
            raise RuntimeError(
                f"OPTIMIZE requires a file-backed table; {_unquote(name)} has "
                "no registered location"
            )
        kwargs = parse_kwargs(body) if body else {}
        target = int(kwargs.pop("target_bytes", 128 * 1024 * 1024))
        dest = str(
            kwargs.pop("dest", None) or location.rstrip("/") + "_compacted"
        )
        if kwargs:
            raise ValueError(f"unknown OPTIMIZE options: {sorted(kwargs)}")
        from dask_sql_spark.operators.maintenance import compact_files

        # write-audit-publish: compact to dest in the table's REAL format
        # (nano-timestamp parquet is re-materialized with true TIMESTAMP
        # columns inside compact_files), then swap the registration; the
        # superseded location is kept for rollback until VACUUM reclaims it
        report = compact_files(
            spark, location, dest, target_bytes=target, fmt=fmt
        )
        context.create_table(
            key, dest, format=fmt, schema_name=schema_name,
            statistics=record.statistics,
        )
        context.schemas[schema_name].tables[key].superseded.append(location)
        return report

    m = _VACUUM_TABLE.match(sql)
    if m:
        name, body = m.groups()
        record = _lookup(context, name)[2]
        kwargs = parse_kwargs(body) if body else {}
        dry_run = bool(kwargs.pop("dry_run", False))
        if kwargs:
            raise ValueError(f"unknown VACUUM options: {sorted(kwargs)}")
        current = record.location
        rows = []
        remaining: list[str] = []
        for loc in record.superseded:
            if current and loc.rstrip("/") == current.rstrip("/"):
                # never delete the live location, whatever the ledger says
                remaining.append(loc)
                rows.append((loc, "skipped_live", False))
                continue
            if dry_run:
                remaining.append(loc)
                rows.append((loc, "would_delete", False))
                continue
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(loc)
            fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
            deleted = bool(fs.delete(p, True))
            rows.append((loc, "deleted" if deleted else "missing", deleted))
        if not dry_run:
            record.superseded = remaining
        return local_frame(
            spark,
            rows or [(None, "nothing_to_vacuum", False)],
            "location STRING, action STRING, deleted BOOLEAN",
        )

    m = _CREATE_TABLE_AS.match(sql)
    if m:
        replace, kind, if_not_exists, name, select = m.groups()
        schema_name, key, record = _lookup(context, name, missing_ok=True)
        if record is not None:
            if if_not_exists:
                return context._empty_result()
            if not replace:
                raise RuntimeError(f"Table {_unquote(name)} already exists")
        df = context.sql(select)
        # TABLE persists (eager cache), VIEW stays lazy
        # (reference create_memory_table.py:64-66)
        context.create_table(
            key, df, persist=kind.upper() == "TABLE", schema_name=schema_name
        )
        return context._empty_result()

    m = _DROP_TABLE.match(sql)
    if m:
        if_exists, name = m.groups()
        schema_name, key, record = _lookup(context, name, missing_ok=bool(if_exists))
        if record is not None:
            context.drop_table(key, schema_name=schema_name)
        return context._empty_result()

    m = _DROP_MODEL.match(sql)
    if m:
        if_exists, name = m.groups()
        name = _unquote(name)
        schema = context.schemas[context.schema_name]
        if name not in schema.models:
            if if_exists:
                return context._empty_result()
            raise RuntimeError(f"Model {name} does not exist")
        del schema.models[name]
        return context._empty_result()

    m = _CREATE_SCHEMA.match(sql)
    if m:
        replace, if_not_exists, name = m.groups()
        name = _unquote(name)
        if name in context.schemas:
            if if_not_exists:
                return context._empty_result()
            if not replace:
                raise RuntimeError(
                    f"A Schema with the name {name} is already present."
                )
            # OR REPLACE resets the schema (and cleans its temp views)
            context.drop_schema(name)
        context.create_schema(name)
        return context._empty_result()

    m = _DROP_SCHEMA.match(sql)
    if m:
        if_exists, name = m.groups()
        name = _unquote(name)
        if name not in context.schemas:
            if if_exists:
                return context._empty_result()
            raise RuntimeError(f"Schema {name} does not exist")
        context.drop_schema(name)
        return context._empty_result()

    m = _USE_SCHEMA.match(sql)
    if m:
        name = _unquote(m.group(1))
        if name not in context.schemas:
            raise RuntimeError(f"Schema {name} does not exist")
        context.schema_name = name
        return context._empty_result()

    m = _ALTER_TABLE.match(sql)
    if m:
        # reference alter.py:14-86; a registry move via Context.alter_table
        if_exists, old, new = m.groups()
        old_schema, old_key, record = _lookup(
            context, old, missing_ok=bool(if_exists)
        )
        if record is None:
            return context._empty_result()
        new = _unquote(new)
        # unqualified new name stays in the old table's schema
        new_schema, new_table = (
            context._split_qualified(new) if "." in new else (old_schema, new)
        )
        if new_schema != old_schema:
            # as Spark's session catalog: a rename never moves databases
            raise ValueError(
                f"ALTER TABLE {_unquote(old)} RENAME TO {new}: source and "
                f"destination schemas do not match ({old_schema} vs {new_schema})"
            )
        context.alter_table(old_key, new_table, schema_name=old_schema)
        return context._empty_result()

    m = _ALTER_SCHEMA.match(sql)
    if m:
        context.alter_schema(_unquote(m.group(1)), _unquote(m.group(2)))
        return context._empty_result()

    m = _SHOW_SCHEMAS.match(sql)
    if m:
        catalog, like_q, like_u = m.group(1), m.group(2), m.group(3)
        if catalog and _unquote(catalog) != context.catalog_name:
            raise RuntimeError(
                f"A catalog with the name {_unquote(catalog)} is not present."
            )
        # presto-compat: information_schema is always listed (reference
        # show_schemas.py:30-32); LIKE is an exact-equality filter there.
        # The pattern may be quoted ('foo') or a bare identifier (foo) —
        # both previously-silently-unmatched forms now filter correctly.
        names = sorted(context.schemas) + ["information_schema"]
        if like_q is not None or like_u is not None:
            want = like_q.replace("''", "'") if like_q is not None else like_u
            names = [s for s in names if s == want]
        return local_frame(spark, [(s,) for s in names], "Schema: string")

    m = _SHOW_TABLES.match(sql)
    if m:
        schema = _unquote(m.group(1)) if m.group(1) else context.schema_name
        # reference show_tables.py:32-40: FROM [<catalog>.]<schema> — a
        # leading catalog part must name the context's catalog
        if "." in schema:
            catalog, schema = schema.split(".", 1)
            if catalog != context.catalog_name:
                raise RuntimeError(
                    f"A catalog with the name {catalog} is not present."
                )
        if schema not in context.schemas:
            raise RuntimeError(f"Schema {schema} does not exist")
        names = sorted(context.schemas[schema].tables)
        return local_frame(spark, [(t,) for t in names], "Table: string")

    m = _SHOW_COLUMNS.match(sql)
    if m:
        from dask_sql_spark.mappings import column_rows

        rows = column_rows(_lookup(context, m.group(1))[2].df.schema)
        return local_frame(
            spark, rows, "Column: string, Type: string, Nullable: string"
        )

    if _SHOW_MODELS.match(sql):
        names = sorted(context.schemas[context.schema_name].models)
        return local_frame(spark, [(n,) for n in names], "Model: string")

    m = _DESCRIBE_MODEL.match(sql)
    if m:
        from dask_sql_spark.ml.model import describe_model

        return describe_model(context, _unquote(m.group(1)))

    m = _ANALYZE_TABLE.match(sql)
    if m:
        name = _unquote(m.group(1))
        cols_spec = m.group(2)
        # catalog-backed tables additionally get Spark's native ANALYZE so
        # the CBO sees real rowCount/column stats at scale (join reorder,
        # stats-driven broadcast selection); registry temp views cannot
        # carry catalog stats, so for them the summary below is the result
        try:
            is_catalog = context.spark.catalog.tableExists(
                name
            ) and not context.spark.catalog.getTable(name).isTemporary
        except Exception:
            is_catalog = False
        if is_catalog:
            if cols_spec.upper().startswith("COLUMNS"):
                native_suffix = f"FOR COLUMNS {m.group(3)}"
            else:
                native_suffix = "FOR ALL COLUMNS"
            spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
            spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS {native_suffix}")
            df = spark.table(name)
        else:
            df = _lookup(context, name)[2].df
        if cols_spec.upper().startswith("COLUMNS"):
            cols = [c.strip().strip('"').strip("`") for c in m.group(3).split(",")]
            df = df.select(*cols)
        # describe()-style stats table (reference analyze_table.py:15-70);
        # distributed: summary() aggregates executor-side.
        return df.summary()

    m = _CREATE_MODEL_HEAD.match(sql)
    if m:
        from dask_sql_spark.ml.model import create_model

        models = context.schemas[context.schema_name].models
        head = _create_with_as(m, sql, "Model", models)
        if head is None:
            return context._empty_result()
        name, body, select = head
        create_model(context, name, parse_kwargs(body), select)
        return context._empty_result()

    # DML clause boundaries (WHERE / WHEN ...) are found on the
    # literal-masked text so keyword-looking string VALUES ('... WHERE
    # ...') can never mis-split the statement; groups still come from
    # the original text.
    m = _match_masked(_MERGE_INTO, sql)
    if m:
        return _execute_merge(context, m)

    m = _match_masked(_DELETE_FROM, sql)
    if m:
        return _execute_delete(context, m)

    m = _match_masked(_UPDATE_TABLE, sql)
    if m:
        return _execute_update(context, m)

    m = _INSERT_INTO.match(sql)
    if m:
        # append semantics over the registry: union the select result into
        # the registered frame and re-register (temp views are not
        # writable targets; real lakehouse tables should use
        # spark.sql INSERT on catalog tables instead)
        name, select = m.groups()
        schema_name, key, record = _lookup(context, name, missing_ok=True)
        if record is None:
            # not a registry table — let Spark handle it (real catalog
            # tables support INSERT natively)
            return None
        existing = record.df
        if select.upper().startswith("VALUES"):
            select = f"SELECT * FROM ({select}) AS __v__"
        new_rows = context.sql(select)
        if new_rows.columns != existing.columns and len(new_rows.columns) == len(
            existing.columns
        ):
            # VALUES lists arrive as col1..colN → positional mapping
            new_rows = new_rows.toDF(*existing.columns)
        context.create_table(
            key, existing.unionByName(new_rows), schema_name=schema_name
        )
        return context._empty_result()

    m = _COPY_TO.match(sql)
    if m:
        src, location, body = m.groups()
        kwargs = parse_kwargs(body) if body else {}
        fmt = str(kwargs.pop("format", "parquet")).lower()
        mode = str(kwargs.pop("mode", "overwrite"))
        if src.startswith("("):
            df = context.sql(src[1:-1])
        else:
            df = _lookup(context, src)[2].df
        # sort_by: cluster rows within output files so parquet row-group
        # min/max stats enable skipping on those columns at read time (the
        # poor man's Z-order; at 100 TB this is the difference between
        # scanning a partition and scanning a few row groups of it)
        if kwargs.get("sort_by"):
            cols = [c.strip() for c in str(kwargs.pop("sort_by")).split(",")]
            df = df.sortWithinPartitions(*cols)
        writer = df.write.mode(mode).format(fmt)
        if kwargs.get("partition_by"):
            cols = [c.strip() for c in str(kwargs.pop("partition_by")).split(",")]
            writer = writer.partitionBy(*cols)
        for k, v in kwargs.items():
            writer = writer.option(k, str(v))
        writer.save(location)
        return context._empty_result()

    m = _CREATE_EXPERIMENT_HEAD.match(sql)
    if m:
        from dask_sql_spark.ml.experiment import create_experiment

        experiments = context.schemas[context.schema_name].experiments
        head = _create_with_as(m, sql, "Experiment", experiments)
        if head is None:
            return context._empty_result()
        name, body, select = head
        results = create_experiment(
            context, name, parse_kwargs(body), select
        ).astype(str)
        fields = [T.StructField(str(c), T.StringType()) for c in results.columns]
        return local_frame(
            spark,
            list(results.itertuples(index=False, name=None)),
            T.StructType(fields),
        )

    m = _PREDICT.match(sql)
    if m:
        from dask_sql_spark.ml.model import predict_model

        projection, model_name, select = m.groups()
        df = predict_model(context, _unquote(model_name), select)
        if projection.strip() != "*":
            df.createOrReplaceTempView("__predict_result__")
            df = spark.sql(f"SELECT {projection} FROM __predict_result__")
        return df

    m = _EXPORT_MODEL.match(sql)
    if m:
        from dask_sql_spark.ml.model import export_model

        export_model(context, _unquote(m.group(1)), parse_kwargs(m.group(2)))
        return context._empty_result()

    return None
