import os

os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import SparkSession

from geopandas_spark.conf import DAEMON_MODULE


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("geopandas-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def count_builds(monkeypatch):
    """Every BuildIndex constructed (= broadcast plans taken), in order;
    each keeps its ``.resolution``."""
    from geopandas_spark.operators import _buildindex

    built = []
    orig = _buildindex.BuildIndex.__init__

    def spy(self, *a, **k):
        orig(self, *a, **k)
        built.append(self)

    monkeypatch.setattr(_buildindex.BuildIndex, "__init__", spy)
    return built


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


def make_points_df(spark, n, seed=42, name_prefix="p"):
    from geopandas_spark.geom.ragged import points_batch
    from geopandas_spark.geom.wkb import to_wkb

    r = np.random.default_rng(seed)
    x, y = r.random(n), r.random(n)
    wkb = to_wkb(points_batch(x, y))
    pdf = pd.DataFrame({
        "pid": np.arange(n), "geometry": list(wkb),
        "value": r.standard_normal(n),
        "name": [f"{name_prefix}{i}" for i in range(n)],
    })
    return spark.createDataFrame(pdf), x, y


def make_triangles_df(spark, n, seed=7, scale=0.2, name_prefix="t"):
    from geopandas_spark.geom import wkt as W
    from geopandas_spark.geom.wkb import to_wkb

    r = np.random.default_rng(seed)
    v = r.random((n, 3, 2)) * scale
    offs = r.random((n, 1, 2)) * (1 - scale)
    tri = v + offs
    wkts = [
        "POLYGON ((%.12f %.12f, %.12f %.12f, %.12f %.12f, %.12f %.12f))"
        % (t[0, 0], t[0, 1], t[1, 0], t[1, 1], t[2, 0], t[2, 1], t[0, 0], t[0, 1])
        for t in tri
    ]
    wkb = to_wkb(W.from_wkt(wkts))
    pdf = pd.DataFrame({
        "tid": np.arange(n), "geometry": list(wkb),
        "value": r.standard_normal(n),
        "name": [f"{name_prefix}{i}" for i in range(n)],
        "grp": [f"g{i % 10}" for i in range(n)],
    })
    return spark.createDataFrame(pdf), wkb
