"""Phase-level profile of the scaling-bench sjoin (serial-fraction hunt).

Runs the same 1M x 100k job as tools/scaling_bench.py at one level and
times each phase: prep+stats, build-side collect+broadcast, probe pass.
Usage: python tools/sjoin_profile.py [--cpus 8]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

cpus = int(sys.argv[sys.argv.index("--cpus") + 1]) if "--cpus" in sys.argv else 8


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"sjoin-profile-{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from tools.scaling_bench import _build_inputs, run_level  # noqa: F401
    import tools.scaling_bench as SB
    from geopandas_spark.functions.st import st_geomfromtext, st_point
    import math

    N_POINTS, N_RECTS = SB.N_POINTS, SB.N_RECTS
    pts, rects = _build_inputs(spark, N_POINTS, N_RECTS)

    def rect_geom(df):
        cx = F.col("minx") + F.col("side") / 2
        cy = F.col("miny") + F.col("side") / 2
        parts = [F.lit("POLYGON ((")]
        for k in range(13):
            a = 2 * math.pi * (k % 12) / 12
            rad = F.col("side") / 2 * (1.0 + 0.3 * (((k % 12) * 2654435761 % 7) / 7.0))
            parts.append(cx + rad * math.cos(a))
            parts.append(F.lit(" "))
            parts.append(cy + rad * math.sin(a))
            if k < 12:
                parts.append(F.lit(", "))
        parts.append(F.lit("))"))
        return df.withColumn("geometry", st_geomfromtext(F.concat(*parts))).select("rid", "geometry")

    pts = pts.persist(); rgeo = rect_geom(rects).persist()
    pts.count(); rgeo.count()

    from geopandas_spark.operators import sjoin as SJ
    from geopandas_spark.functions.st import st_bounds, st_cells_from_bbox
    from geopandas_spark.index.cells import DOMAIN_UNIT

    # warmup full pass
    t0 = time.time()
    n = SJ.sjoin(pts, rgeo, how="inner", predicate="intersects",
                 left_id="pid", right_id="rid").count()
    print(f"warmup full sjoin: {time.time()-t0:.2f}s rows={n}", flush=True)

    for rep in range(2):
        t0 = time.time()
        left, lid = SJ._prep_side(pts, "geometry", "pid", "l")
        right, rid = SJ._prep_side(rgeo, "geometry", "rid", "r")
        stats = SJ._bbox_stats(left, right)
        t1 = time.time()
        resolution = SJ._estimate_resolution(stats, DOMAIN_UNIT)
        lmin = SJ._min_cover_res(stats[0], resolution, DOMAIN_UNIT, 0.0)
        rmin = SJ._min_cover_res(stats[1], resolution, DOMAIN_UNIT, 0.0)
        lcov = left.select("pid", F.col("geometry").alias("__lgeom"), "__bb").withColumn(
            "__cells", st_cells_from_bbox("__bb.minx", "__bb.miny", "__bb.maxx", "__bb.maxy", resolution, domain=DOMAIN_UNIT))
        rcov = right.select("rid", F.col("geometry").alias("__rgeom"), "__bb").withColumn(
            "__cells", st_cells_from_bbox("__bb.minx", "__bb.miny", "__bb.maxx", "__bb.maxy", resolution, domain=DOMAIN_UNIT))
        if rmin < resolution:
            lcov = lcov.withColumn("__cells", SJ._ancestors_udf(rmin)(F.col("__cells")))
        if lmin < resolution:
            rcov = rcov.withColumn("__cells", SJ._ancestors_udf(lmin)(F.col("__cells")))
        # time the build-side collect + CSR + broadcast separately: grab the
        # internals of _broadcast_probe_refined up to the mapInArrow
        t2 = time.time()
        tbl = (rcov.select(F.col("rid").alias("i"), F.col("__rgeom").alias("g"),
                           F.col("__cells").alias("c")).toArrow().combine_chunks())
        t3 = time.time()
        lraw = left.select(F.col("pid").alias("__xlid"),
                           F.col("geometry").alias("__lgeom"))
        refined = SJ._broadcast_probe_refined(
            lraw, rcov, "rid", "intersects", None, 0.0,
            resolution, DOMAIN_UNIT,
            rmin if rmin < resolution else None, carry=["__xlid"])
        t4 = time.time()
        n = refined.select("__xlid", "__xrid").count()
        t5 = time.time()
        print(f"rep{rep}: prep+stats={t1-t0:.2f} plan={t2-t1:.2f} "
              f"buildArrowCollect={t3-t2:.2f} csr+bcast(incl 2nd collect)={t4-t3:.2f} "
              f"probe+count={t5-t4:.2f} total={t5-t0:.2f} rows={n}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
