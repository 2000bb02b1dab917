"""The executed-plan walker, and what Spark 4.1's Python-node timing
metrics mean, pinned on a toy ``mapInPandas`` and a toy ``pandas_udf``.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys
import time

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.probes import PLAN_KEYS, PlanWalker  # noqa: E402

ROWS, PARTS = 4000, 2
SLEEP = 0.5  # per partition, inside the Python function
IDLE = 3.0  # driver-side pause between two actions


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from geopandas_spark.conf import get_spark

    s = get_spark("perfbench-tests", cpus=PARTS, shuffle_partitions=PARTS)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    from perfbench.run import _stop

    _stop(s)


def _walk(spark, df) -> dict:
    acc: dict = {}
    PlanWalker(spark.sparkContext._jvm).walk(
        df._jdf.queryExecution().executedPlan(), acc, set())
    return acc


def _map_in_pandas(spark):
    def slow(batches):
        time.sleep(SLEEP)
        yield from batches

    return spark.range(0, ROWS, numPartitions=PARTS).mapInPandas(slow, "id long")


def _pandas_udf(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        time.sleep(SLEEP)
        return s + 1

    return spark.range(0, ROWS, numPartitions=PARTS).select(plus_one("id").alias("v"))


@pytest.mark.parametrize("build", [_map_in_pandas, _pandas_udf],
                         ids=["mapInPandas", "pandas_udf"])
def test_python_node_timing_meaning(spark, build):
    # first action: the rows, the bytes, and compute inside pythonTotalTime
    df = build(spark)
    assert df.toArrow().num_rows == ROWS
    m = _walk(spark, df)
    assert m["python.nodes"] == 1
    assert m["python.rows_received"] == ROWS
    assert m["python.bytes_sent"] > 0 and m["python.bytes_received"] > 0
    # every task sleeps SLEEP after its UDF is set up: total holds it,
    # init does not
    assert m["python.total_task_s"] >= 0.9 * PARTS * SLEEP

    # second action after an idle gap: the reused workers entered their
    # task loop when the first action ended, so pythonInitTime holds the
    # gap; pythonTotalTime starts when the task asks for a worker and
    # does not
    time.sleep(IDLE)
    df2 = build(spark)
    assert df2.toArrow().num_rows == ROWS
    m2 = _walk(spark, df2)
    assert m2["python.init_task_s"] >= 0.9 * IDLE
    assert m2["python.total_task_s"] < PARTS * (SLEEP + IDLE) * 0.9
    assert m2["python.total_task_s"] >= 0.9 * PARTS * SLEEP


def test_walker_counts_each_node_once(spark):
    df = spark.range(0, ROWS, numPartitions=PARTS).repartition(PARTS)
    assert df.toArrow().num_rows == ROWS
    walker = PlanWalker(spark.sparkContext._jvm)
    plan = df._jdf.queryExecution().executedPlan()
    acc, seen = {}, set()
    walker.walk(plan, acc, seen)
    assert acc["shuffle.records_written"] == ROWS
    walker.walk(plan, acc, seen)
    assert acc["shuffle.records_written"] == ROWS
    assert set(acc) <= set(PLAN_KEYS)
