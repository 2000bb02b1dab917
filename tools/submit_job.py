"""spark-submit entry point (north rule: "runs via spark-submit
--py-files at 10^12-document scale").

Build the dependency zip, then:

    python tools/package.py
    spark-submit --master 'local[8]' \
        --py-files dist/geopandas_spark.zip tools/submit_job.py \
        --docs 10000 --workdir /tmp/gs_job

On a real cluster the same command targets yarn/k8s; nothing below is
local-mode specific. There, also pass
``--conf spark.python.daemon.module=geopandas_spark._pydaemon`` (what
``conf.get_spark`` sets): the engine's daemon entry point stops every
task from re-reading ``pyspark.zip``'s directory. The daemon imports it
at start, so ``geopandas_spark`` must be on the executors' Python path
then (an installed package or ``PYTHONPATH``). The job is the north-star pipeline spine: synthesize
(or read) interleaved documents -> extract geometry from text spans ->
cell-index -> points-in-tiles spatial join -> checkpointed, lineage-
tracked outputs that resume idempotently (plans/pipeline.py).
"""

from __future__ import annotations

import argparse
import os
import sys

os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=10_000)
    ap.add_argument("--workdir", default="/tmp/geopandas_spark_job")
    ap.add_argument("--zoom", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("geopandas-spark-job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from geopandas_spark.functions.st import st_cell_point
    from geopandas_spark.plans.pipeline import Pipeline
    from geopandas_spark.sources.documents import (
        synthesize_documents, with_geometry,
    )

    pipe = Pipeline(spark, args.workdir, name="docs-to-tiles")

    docs = pipe.stage(
        "documents",
        lambda s, _: synthesize_documents(s, args.docs, seed=42),
        params={"n": args.docs, "seed": 42},
    )

    geo = pipe.stage(
        "extract",
        lambda s, ins: with_geometry(ins["documents"]),
        inputs=["documents"],
        params={},
    )

    tiles = pipe.stage(
        "tiles",
        lambda s, ins: ins["extract"]
        .filter(F.col("geometry").isNotNull())
        .withColumn("tile_id", st_cell_point("geometry", args.zoom)),
        inputs=["extract"],
        params={"zoom": args.zoom},
    )

    counts = pipe.stage(
        "tile_counts",
        lambda s, ins: ins["tiles"].groupBy("tile_id").agg(
            F.count("*").alias("n_docs")),
        inputs=["tiles"],
        params={},
    )

    n = counts.count()
    total = tiles.count()
    print(f"JOB OK tiles={n} docs_with_geometry={total} "
          f"lineage_rows={pipe.lineage().count()}")
    spark.stop()


if __name__ == "__main__":
    main()
