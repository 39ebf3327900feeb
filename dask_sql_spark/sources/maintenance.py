"""Clustered parquet layout: range-sorted writes and the footer
statistics that show whether a layout lets scans skip files.

Compaction of small files is ``operators/maintenance.compact_files``
(the ``OPTIMIZE`` statement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_sorted(
    df: DataFrame,
    out_path: str,
    sort_cols: list[str],
    n_files: int = 32,
) -> None:
    """Range-clustered parquet write: globally range-partition on
    ``sort_cols`` then sort within each file. Every output file covers a
    disjoint range of the sort key, so each parquet footer's column
    min/max statistics are tight and non-overlapping — a selective
    filter on the key prunes all but ~one file (and within it, all but
    ~one row group) without reading data pages.

    This is the zone-map layout every 100 TB table should have on its
    hottest filter column; the z-order variant for multi-column
    predicates is operators/zorder.py. Cost: one range shuffle
    (sampling pass + exchange), amortized over every future scan.
    """
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(out_path)
    )


def file_stats_ranges(path: str, column: str) -> list[tuple]:
    """Per-file (min, max) of ``column`` read from parquet footer
    statistics via pyarrow — the pruning metadata a scan consults. Used
    to VERIFY clustering quality: after :func:`write_sorted` the ranges
    are pairwise disjoint; after a random write they all overlap."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    ranges = []
    for f in sorted(_glob.glob(_os.path.join(path, "*.parquet"))):
        md = _pq.ParquetFile(f).metadata
        idx = md.schema.names.index(column)
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                continue
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            ranges.append((lo, hi))
    return ranges
