"""Session construction + engine defaults.

Scale posture (BASELINE.json north rule): the engine is written for a
multi-executor cluster; locally we emulate with local[N]. All knobs that
matter at 100 TB are set here so every entry point (tests, bench,
__spark_entry__) shares them:

* AQE on (runtime re-plan, skew-join splitting).
* Arrow pandas-UDF transport with bounded batch size (geometry batches are
  memory-heavy; 8k rows/batch keeps WKB decode temporaries in cache).
* shuffle.partitions sized by caller (tests: 8-32; cluster: ~2-3x cores).
* Broadcast threshold left to Spark; operators call F.broadcast explicitly
  when the build side is known small (SURVEY.md §4).
* Python daemon started through ``geopandas_spark._pydaemon``: with pyspark
  imported from ``pyspark.zip``, each task's ``importlib.invalidate_caches()``
  re-read the zip's directory 14-16 times (65-130 ms a task on 3.11);
  the entry point re-reads it only when the archive changed. The daemon
  imports it before any task runs, so ``geopandas_spark`` must be
  importable on the workers at start, as engine UDFs already require.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH = 8192
DAEMON_MODULE = "geopandas_spark._pydaemon"


def setup_malloc_env() -> None:
    """Keep glibc from mmap'ing/trimming large allocations.

    On lazily-provisioned VMs (firecracker-style on-demand paging) every
    first touch of a fresh mmap page goes through a slow host fault path;
    numpy's large temporaries are mmap/munmap cycles, so kernels pay that
    cost on EVERY batch. Forcing brk-heap allocation + no trim means pages
    fault once per worker and are reused forever (observed 10-100x
    steady-state speedup on the vectorized geometry kernels). Must run in
    the driver BEFORE the Python-worker daemon forks, so workers inherit.
    """
    os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")


setup_malloc_env()


def get_spark(app: str = "geopandas-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .getOrCreate()
    )


def widen(df, factor: int = 1):
    """Repartition coarse inputs (e.g. one small parquet file) up to the
    session's parallelism so UDF-bearing map stages parallelize. No-op on
    inputs that already have enough partitions (the normal case at scale).
    Call BEFORE any monotonically_increasing_id (branch-stable ids).

    Widen what feeds a map pass, never what feeds a driver collect: the
    repartition adds a shuffle stage, and under AQE a query stage is its
    own job, to an eager collect that parallelism does not speed up.
    Calling it on a frame that already holds an exchange runs that stage
    (``df.rdd`` makes AQE execute it) while the plan is being built."""
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    try:
        nparts = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(target) if nparts < target else df
