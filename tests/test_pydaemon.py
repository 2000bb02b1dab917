"""The engine's Python daemon entry point (geopandas_spark/_pydaemon.py):
zipimporter cache invalidation that skips an unchanged archive."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from geopandas_spark import _pydaemon
from geopandas_spark.conf import DAEMON_MODULE, get_spark


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch, tmp_path):
    """Install the guarded method for one test and record the archive of
    every call that reaches the original."""
    calls = []
    original = _pydaemon._original

    def counted(self):
        calls.append(self.archive)
        return original(self)

    monkeypatch.setattr(_pydaemon, "_original", counted)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pydaemon.invalidate_caches)
    yield calls
    for name in [m for m in sys.modules if m.startswith("gs_zip_")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache
                if k.startswith(str(tmp_path))]:
        del sys.path_importer_cache[key]


def test_unchanged_archive_is_read_once(tmp_path, reads):
    z = str(tmp_path / "a.zip")
    _write_zip(z, {"gs_zip_a": "X = 1\n"})
    imp = zipimport.zipimporter(z)
    for _ in range(3):
        imp.invalidate_caches()
    assert reads == [z]
    assert imp.find_spec("gs_zip_a") is not None


def test_rewritten_archive_is_reread(tmp_path, reads, monkeypatch):
    z = str(tmp_path / "b.zip")
    _write_zip(z, {"gs_zip_b1": "X = 1\n"})
    monkeypatch.syspath_prepend(z)
    assert importlib.import_module("gs_zip_b1").X == 1
    imp = sys.path_importer_cache[z]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(z) == 1
    with pytest.raises(ImportError):
        importlib.import_module("gs_zip_b2")
    _write_zip(z, {"gs_zip_b1": "X = 1\n", "gs_zip_b2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(z) == 2
    mod = importlib.import_module("gs_zip_b2")
    assert mod.Y == 2 and mod.__loader__ is imp


def test_deleted_archive_behaves_as_original(tmp_path, reads):
    z = str(tmp_path / "c.zip")
    _write_zip(z, {"gs_zip_c": "X = 1\n"})
    imp = zipimport.zipimporter(z)
    imp.invalidate_caches()
    os.remove(z)
    imp.invalidate_caches()
    assert reads == [z, z]
    assert imp._files == {} and z not in zipimport._zip_directory_cache
    assert imp.find_spec("gs_zip_c") is None
    # the same bytes back: the next call reads again
    _write_zip(z, {"gs_zip_c": "X = 1\n"})
    imp.invalidate_caches()
    assert reads == [z, z, z] and imp.find_spec("gs_zip_c") is not None


def test_session_workers_run_the_guarded_method(spark):
    @pandas_udf("string")
    def _module(x: pd.Series) -> pd.Series:
        import zipimport

        return pd.Series(
            [zipimport.zipimporter.invalidate_caches.__module__] * len(x))

    rows = spark.range(0, 64, numPartitions=4).select(
        _module("id").alias("m")).collect()
    assert len(rows) == 64
    assert {r.m for r in rows} == {"geopandas_spark._pydaemon"}


def test_get_spark_sets_daemon_module(monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    opts = get_spark("daemon-conf", cpus=2)
    assert opts["spark.python.daemon.module"] == DAEMON_MODULE
    assert DAEMON_MODULE == _pydaemon.__name__
