"""Table file-layout maintenance: small-file audit and compaction.

The missing half of nightly ingest at 100 TB: appends (especially
streaming `foreachBatch` sinks) accrete thousands of sub-row-group files,
and every downstream scan pays per-file open/footers until a compaction
pass rewrites the layout. Companions: `operators/diff.py` (snapshot
reconciliation), `operators/zorder.py` (clustered layout).

Both entry points keep the division of labor right for a cluster: file
*listing* is driver-side via the Hadoop FileSystem API (metadata-scale,
works for file://, hdfs://, s3a:// alike), while the *rewrite* is a plain
distributed read→repartition→write — no data ever flows through the
driver.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession


def _list_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, bytes) of every data file under ``path`` via the Hadoop FS
    (driver-side metadata walk; hidden/_ files skipped like Spark does)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    out: list[tuple[str, int]] = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out.append((st.getPath().toString(), st.getLen()))
    return out


def compaction_plan(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    small_ratio: float = 0.5,
) -> DataFrame:
    """One-row layout audit of a table location: file count, total bytes,
    how many files are "small" (< ``small_ratio`` × target), and the file
    count a compaction to ``target_bytes`` would produce. Returns a
    DataFrame so the report composes with SQL like every other operator.
    """
    files = _list_files(spark, path)
    total = sum(b for _, b in files)
    small = sum(1 for _, b in files if b < small_ratio * target_bytes)
    target_files = max(1, math.ceil(total / target_bytes)) if total else 0
    from dask_sql_spark.context import local_frame

    return local_frame(
        spark,
        [
            (
                path,
                len(files),
                total,
                small,
                target_files,
                len(files) > target_files and small > 0,
            )
        ],
        "path STRING, n_files INT, total_bytes BIGINT, n_small_files INT, "
        "target_n_files INT, needs_compaction BOOLEAN",
    )


def compact_files(
    spark: SparkSession,
    path: str,
    dest: str,
    target_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> DataFrame:
    """Rewrite ``path`` to ``dest`` as ~``target_bytes`` files: the sized
    repartition count comes from the driver-side listing; the rewrite is
    a fully distributed scan→round-robin exchange→write (never in-place —
    swap ``dest`` into the catalog after validation, the same
    write-audit-publish discipline as every lakehouse compactor).
    Returns the post-compaction :func:`compaction_plan` of ``dest``.
    """
    # refuse in-place AND nested rewrites: a dest under path would be
    # double-counted by every later scan of path; a path under dest
    # would be clobbered by the overwrite (round-10 audit)
    from dask_sql_spark.sources.maintenance import _guard_disjoint_paths

    _guard_disjoint_paths(path, dest)
    total = sum(b for _, b in _list_files(spark, path))
    n = max(1, math.ceil(total / target_bytes))
    # read_location, not a raw scan: csv/json get their reader defaults and
    # parquet timestamp[ns] columns (read as BIGINT under nanosAsLong) are
    # re-materialized as real TIMESTAMPs, so the compacted table keeps its
    # timestamp schema after the catalog swap
    from dask_sql_spark.sources.location import read_location

    df = read_location(spark, path, format=fmt)
    writer = df.repartition(n).write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", True)
    writer.save(dest)
    return compaction_plan(spark, dest, target_bytes=target_bytes)
