"""The engine's Python worker daemon (dask_sql_spark/daemon.py): a zip
archive's directory is re-read only when the archive changed."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from dask_sql_spark import daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def counted_reads(monkeypatch):
    """Install the daemon's invalidate_caches and count directory reads."""
    reads = []
    real = zipimport._read_directory

    def read_directory(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches
    )
    return reads


def test_unchanged_archive_not_reread(tmp_path, counted_reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"dss_zip_a": "X = 1"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()  # first call reads: nothing recorded yet
    del counted_reads[:]
    for _ in range(5):
        importer.invalidate_caches()
    assert counted_reads == []


def test_rewritten_archive_reread_and_new_module_imports(
    tmp_path, monkeypatch, counted_reads
):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"dss_zip_a": "X = 1"})
    monkeypatch.syspath_prepend(archive)
    for name in ("dss_zip_a", "dss_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("dss_zip_a").X == 1
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("dss_zip_b")

    st = os.stat(archive)
    _write_zip(archive, {"dss_zip_a": "X = 1", "dss_zip_b": "Y = 2"})
    # a new stamp even where the clock cannot tell the two writes apart
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    del counted_reads[:]
    importlib.invalidate_caches()
    assert archive in counted_reads
    assert importlib.import_module("dss_zip_b").Y == 2


def test_daemon_import_stays_light():
    """The daemon imports the package: its import must not load pandas or
    the Context (each forked worker would carry them)."""
    code = (
        "import dask_sql_spark.daemon, sys; "
        "assert 'pandas' not in sys.modules, 'pandas'; "
        "assert 'dask_sql_spark.context' not in sys.modules, 'context'"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)


def test_local_session_workers_run_the_daemon(spark):
    """A pandas UDF in a default_spark_session local session runs in a
    worker forked from the engine's daemon."""
    import pandas as pd
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.daemon.module") == "dask_sql_spark.daemon"
    assert spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)[0] == ROOT

    @F.pandas_udf("string")
    def wrapper_file(x: pd.Series) -> pd.Series:
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        return pd.Series([code.co_filename] * len(x))

    rows = spark.range(4).select(wrapper_file("id").alias("f")).collect()
    assert {os.path.realpath(r.f) for r in rows} == {os.path.realpath(daemon.__file__)}
