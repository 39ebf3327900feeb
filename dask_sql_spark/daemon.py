"""Spark's Python worker daemon, minus the per-task re-read of zip archives.

Every task a Python worker runs starts with
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. That reaches every ``zipimporter`` in
``sys.path_importer_cache``, and under CPython 3.11 each one re-reads its
archive's whole central directory (``zipimport.zipimporter
.invalidate_caches``). A local worker holds about a dozen importers over
``pyspark.zip`` and two over the ``spark-core`` jar, so every task paid
55-60 ms (4-core VM) before the UDF body ran, although the archives never
change while Spark runs.

Here each importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from what it was when that importer last
read it; a file added to a Spark-shipped archive by rewriting it is still
seen. The daemon installs the wrapper, then runs ``pyspark.daemon.manager``,
so every worker it forks inherits it.

``default_spark_session`` names this module in ``spark.python.daemon.module``
for ``local`` masters. Spark starts it as ``python -m dask_sql_spark.daemon
<worker module>``; ``import dask_sql_spark`` is lazy, so the daemon loads no
pandas and no ``Context``.
"""

from __future__ import annotations

import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only if
    its stamp changed since this importer last read it (a missing archive
    is always re-read, which clears the importer's files)."""
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    _read_archive(self)
    self._read_stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
