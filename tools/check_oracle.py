"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare
row-count + (column-name-sorted) values, exact for non-floats and
exact-or-1e-9-relative for floats. Usage:

    python tools/check_oracle.py [--hash] [--bitwise] [name_filter ...]

``run_gate`` is the gate loop; tools/hostile_check.py runs it too.
"""

from __future__ import annotations

import gc
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype("string")
            except (TypeError, ValueError):
                df[c] = df[c].map(str)
        # datetimes → naive UTC strings for comparison
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = df[c]
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        if pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("boolean")
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    a, b = norm(a.copy()), norm(b.copy())
    for c in a.columns:
        av, bv = a[c], b[c]
        # dtype-KIND strictness: the driver hashes raw values, so an int64
        # Spark column vs a float64 oracle column (e.g. DuckDB HUGEINT ->
        # pandas float64) mismatches there even when values are equal.
        # Refuse to be more tolerant than the driver.
        a_int = pd.api.types.is_integer_dtype(av)
        b_int = pd.api.types.is_integer_dtype(bv)
        a_flt = pd.api.types.is_float_dtype(av)
        b_flt = pd.api.types.is_float_dtype(bv)
        if (a_int and b_flt) or (a_flt and b_int):
            return (
                f"col {c} DTYPE KIND mismatch: {av.dtype} vs {bv.dtype} "
                "(int-vs-float hashes differently on the driver)"
            )
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            avf = av.astype(float).to_numpy()
            bvf = bv.astype(float).to_numpy()
            both_nan = np.isnan(avf) & np.isnan(bvf)
            close = np.isclose(avf, bvf, rtol=1e-9, atol=1e-12)
            bad = ~(both_nan | close)
            if bad.any():
                i = int(np.argmax(bad))
                return f"col {c} row {i}: {avf[i]!r} vs {bvf[i]!r}"
            exact = (avf == bvf) | both_nan
            if not exact.all():
                i = int(np.argmax(~exact))
                return f"col {c} row {i} INEXACT: {avf[i]!r} vs {bvf[i]!r}"
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
            if not eq.all():
                i = int(np.argmax(~eq.to_numpy()))
                return f"col {c} row {i}: {av.iloc[i]!r} vs {bv.iloc[i]!r}"
    return None


def value_hash(df: pd.DataFrame) -> str:
    """Driver-style value hash: columns sorted by name, rows sorted by
    all columns, every cell serialized to a canonical string (floats via
    repr → shortest round-trip form, NaN/None as sentinels), sha256 over
    the joined bytes.  Lets a local-green/driver-red divergence be
    diagnosed per engine: run with --hash and compare the two digests
    plus the printed engine versions against the driver's record."""
    import hashlib

    df = norm(df.copy())
    h = hashlib.sha256()
    h.update(("|".join(map(str, df.columns))).encode())
    for row in df.itertuples(index=False):
        for v in row:
            if v is None or (isinstance(v, float) and np.isnan(v)):
                h.update(b"\x00N")
            elif isinstance(v, float):
                h.update(repr(v).encode())
            else:
                h.update(str(v).encode())
            h.update(b"\x01")
        h.update(b"\x02")
    return h.hexdigest()


def run_gate(spark, sf_dir, filters, hash_mode=False, bitwise=False, excluded=()):
    """Run every ``queries()`` entry whose name contains one of the
    ``filters`` strings (all entries when empty) on ``spark``, and its
    oracle on DuckDB over the same ``sf_dir``; skip names in ``excluded``.
    Print one line per query and a summary, and return the exit code (1 if
    any query failed). ``hash_mode`` prints both engines' ``value_hash``;
    ``bitwise`` fails a query whose hashes differ even when ``compare``
    passes."""
    import __spark_entry__ as entrymod

    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # Spark-written dataset: glob the parts
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_rows_only = n_skip = 0
    failures: list[str] = []
    n_run = 0
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        if name in excluded:
            n_skip += 1
            print(f"skip  {name}: CHECK_EXCLUDE")
            continue
        # long single-session sweeps age badly: localCheckpoint RDD
        # blocks stay pinned until BOTH the Python ref dies AND Spark's
        # ContextCleaner sees the JVM ref collected — a 290-query run
        # accumulated enough to turn an ~80s sf1 gate into 835s. Drop
        # Python-side garbage every few queries so the cleaner can run.
        n_run += 1
        if n_run % 10 == 0:
            gc.collect()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: SPARK ERROR\n{traceback.format_exc()}")
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            n_rows_only += 1
            print(f"rows  {name}: {len(sdf)} rows ({t_spark:.1f}s) [no oracle]")
            continue
        t1 = time.time()
        try:
            odf = con.execute(oracles[name]).df()
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: DUCKDB ERROR\n{traceback.format_exc()}")
            continue
        t_oracle = time.time() - t1
        if hash_mode or bitwise:
            hs, ho = value_hash(sdf), value_hash(odf)
            tag = "==" if hs == ho else "!="
            if hash_mode:
                print(f"hash  {name}: spark={hs[:16]} {tag} duckdb={ho[:16]}")
        diff = compare(sdf, odf)
        if bitwise and not diff and hs != ho:
            diff = (
                f"BITWISE hash mismatch spark={hs[:16]} != duckdb={ho[:16]} "
                "(tolerant compare passed — a float column differs in the "
                "last ulp; the driver would record this red)"
            )
        if diff:
            failures.append(name)
            print(
                f"FAIL  {name}: {diff}  ({len(sdf)} rows, "
                f"spark {t_spark:.1f}s + oracle {t_oracle:.1f}s)"
            )
        else:
            n_pass += 1
            print(
                f"pass  {name}: {len(sdf)} rows "
                f"(spark {t_spark:.1f}s + oracle {t_oracle:.1f}s)"
            )
    print(
        f"\n== {n_pass} pass, {len(failures)} fail, {n_rows_only} rows-only, "
        f"{n_skip} excluded =="
    )
    if failures:
        print("failures:", " ".join(failures))
    return 1 if failures else 0


def main() -> int:
    args = sys.argv[1:]
    hash_mode = "--hash" in args
    # --bitwise: hash raw values exactly as the driver does and FAIL on
    # digest mismatch even when the tolerant compare passes.  The plain
    # compare's exact-or-1e-9-relative float tolerance is how the round-6
    # `scalar_extract_units` 1-ulp divergence shipped local-green and
    # died driver-red — use --bitwise for any gate whose hashed output
    # keeps a float/double column.
    bitwise = "--bitwise" in args
    filters = [a for a in args if a not in ("--hash", "--bitwise")]
    from dask_sql_spark.context import default_spark_session

    if hash_mode:
        import pyspark

        print(f"engines: duckdb={duckdb.__version__} "
              f"pyspark={pyspark.__version__}")

    # CHECK_MEM / CHECK_PARTS size the session for larger SF_DIRs (the
    # sf0.01 default gate fits the defaults; an sf1 sweep needs a real
    # heap — local mode's driver IS the executor)
    spark = default_spark_session(
        shuffle_partitions=int(os.environ.get("CHECK_PARTS", "16")),
        **{
            "spark.driver.memory": os.environ.get("CHECK_MEM", "4g"),
            # full results collect to the checker for comparison; at
            # sf1 the biggest (per-bucket resample spines) exceed the
            # 1g default
            "spark.driver.maxResultSize": os.environ.get(
                "CHECK_MAX_RESULT", "1g"
            ),
        },
    )
    # CHECK_EXCLUDE: comma-separated exact names to skip — for sf1
    # sweeps where a handful of closure-style ORACLES (recursive-CTE
    # transitive reach, all-pairs levenshtein) are super-linear in
    # DuckDB while the Spark side stays seconds; see SCALING.md round-6
    excluded = {
        n for n in os.environ.get("CHECK_EXCLUDE", "").split(",") if n
    }
    return run_gate(spark, SF_DIR, filters, hash_mode, bitwise, excluded)


if __name__ == "__main__":
    raise SystemExit(main())
