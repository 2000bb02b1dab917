"""dissolve/clip/explode semantics (mirrors tests/test_dissolve.py and
tools/tests/test_clip.py shapes)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geopandas_spark.functions.st import st_area, st_astext, st_bounds
from geopandas_spark.geom import wkb as B
from geopandas_spark.geom import wkt as W
from geopandas_spark.operators.clip import clip
from geopandas_spark.operators.dissolve import dissolve, union_all
from geopandas_spark.operators.explode import explode


@pytest.fixture(scope="module")
def squares(spark):
    pdf = pd.DataFrame({
        "grp": ["a", "a", "b", "b", "b"],
        "val": [1.0, 2.0, 3.0, 4.0, 5.0],
        "geometry": list(B.to_wkb(W.from_wkt([
            "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
            "POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))",   # touches first
            "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))",
            "POLYGON ((7 7, 8 7, 8 8, 7 8, 7 7))",
            "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))",   # duplicate of row 3
        ])))})
    return spark.createDataFrame(pdf)


def test_dissolve_merges_touching(squares, spark):
    out = dissolve(squares, by="grp", aggfunc={"val": "sum"})
    rows = {r["grp"]: r for r in out.withColumn("a", st_area("geometry")).collect()}
    assert rows["a"]["val"] == 3.0 and rows["a"]["a"] == 2.0
    # touching squares merged into ONE polygon (true union, not collect)
    wkt = W.to_wkt(B.from_wkb([rows["a"]["geometry"]]))[0]
    assert wkt.startswith("POLYGON")
    # overlapping duplicates in group b collapse (union, not 3 parts)
    assert rows["b"]["a"] == 2.0
    assert rows["b"]["val"] == 12.0


def test_dissolve_aggfuncs(squares, spark):
    out = dissolve(squares, by="grp", aggfunc={"val": "mean"}).collect()
    vals = {r["grp"]: r["val"] for r in out}
    assert vals["a"] == 1.5 and vals["b"] == 4.0


def test_dissolve_no_key(squares, spark):
    out = dissolve(squares, by=None, aggfunc={"val": "count"})
    rows = out.withColumn("a", st_area("geometry")).collect()
    assert len(rows) == 1
    assert rows[0]["a"] == 4.0  # 2 + 1 + 1 (dup collapses)


def test_union_all(squares, spark):
    u = union_all(squares)
    from geopandas_spark.geom.kernels import area

    assert area(B.from_wkb([u]))[0] == 4.0


def test_clip_rect(squares, spark):
    out = clip(squares, (0.5, 0.0, 7.5, 10.0))
    areas = sorted(r[0] for r in out.select(st_area("geometry")).collect())
    assert np.allclose(areas, [0.5, 0.5, 1.0, 1.0, 1.0])


def test_clip_polygon_mask(squares, spark):
    mask = B.to_wkb(W.from_wkt(["POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0))"]))[0]
    out = clip(squares, mask)
    areas = sorted(r[0] for r in out.select(st_area("geometry")).collect())
    assert np.allclose(areas, [1.0, 1.0, 1.0, 1.0])


def test_explode(spark):
    mdf = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2],
        "geometry": list(B.to_wkb(W.from_wkt([
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
            "POINT (3 3)"])))}))
    out = explode(mdf, index_parts=True).collect()
    assert len(out) == 3
    parts = {(r["id"], r["part_index"]) for r in out}
    assert parts == {(1, 0), (1, 1), (2, 0)}


def test_total_bounds_is_plain_agg(squares, spark):
    """total_bounds (base.py:4703) is a pure Catalyst agg over bounds."""
    b = squares.withColumn("bb", st_bounds("geometry"))
    r = b.agg(F.min("bb.minx"), F.min("bb.miny"),
              F.max("bb.maxx"), F.max("bb.maxy")).collect()[0]
    assert list(r) == [0.0, 0.0, 8.0, 8.0]


def test_clip_bbox_pushdown_geoparquet(squares, spark, tmp_path_factory):
    """clip over a GeoParquet table with a covering bbox struct: the
    window predicate must reach the parquet scan as PushedFilters, with
    no pandas UDF upstream of it (VERDICT round-1 'done' criterion)."""
    from geopandas_spark.sources.geoparquet import write_geoparquet

    path = str(tmp_path_factory.mktemp("gp") / "squares")
    write_geoparquet(squares, path, covering_bbox=True)
    df = spark.read.parquet(path)
    out = clip(df, (4.5, 4.5, 6.5, 6.5))  # bounds auto-detects "bbox"
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("FileScan"):]
    pushed = scan[scan.index("PushedFilters"):].split("]", 1)[0]
    # bbox range predicates reached the scan
    assert "bbox.minx" in pushed and "bbox.maxy" in pushed
    # and no Python/Arrow UDF evaluates before the pushed filter: the
    # FileScan (with the filters) is the leaf; any ArrowEvalPython node
    # must appear above it in the tree string (earlier = closer to root)
    if "ArrowEvalPython" in plan:
        assert plan.index("ArrowEvalPython") < plan.index("FileScan")
    areas = sorted(r[0] for r in out.select(st_area("geometry")).collect())
    assert np.allclose(areas, [1.0, 1.0])  # the two 5..6 squares


def test_cx_filter_pure_sql(squares, spark):
    """cx on a table with bbox columns is a zero-UDF SQL filter; on raw
    WKB it falls back to one bounds UDF but still returns the same rows."""
    from geopandas_spark.operators.clip import cx_filter

    out = cx_filter(squares, (4.5, 4.5, None, None))
    assert out.count() == 3  # both 5..5 squares + 7..8
    # open sides: everything
    assert cx_filter(squares, (None, None, None, None)).count() == 5
    # bbox-touching windows keep the row (intersects semantics)
    assert cx_filter(squares, (8.0, 8.0, 9.0, 9.0)).count() == 1


def test_geoframe_cx_indexer(squares, spark):
    from geopandas_spark.frame import GeoFrame

    gf = GeoFrame(squares)
    assert gf.cx[4.5:6.5, 4.5:6.5].count() == 2
    assert gf.cx[:, 7.0:].count() == 1
    with pytest.raises(TypeError):
        gf.cx[1:2:1, 0:1]


def test_partitioned_geoparquet_prunes_directories(spark, tmp_path_factory):
    """write_geoparquet_partitioned + read_geoparquet_bbox: a bbox query
    must touch only the parquet files under the cover cells' directories
    (Catalyst partition pruning on the cell column), and return exactly
    the rows a plain bbox filter returns."""
    import numpy as np
    import pandas as pd

    from geopandas_spark.geom import wkb as B
    from geopandas_spark.geom.ragged import points_batch
    from geopandas_spark.sources.geoparquet import (
        read_geoparquet, read_geoparquet_bbox, write_geoparquet_partitioned)

    r = np.random.default_rng(19)
    n = 2000
    x, y = r.random(n), r.random(n)
    df = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(n), "geometry": list(B.to_wkb(points_batch(x, y)))}))
    path = str(tmp_path_factory.mktemp("gpqp") / "pts")
    meta = write_geoparquet_partitioned(df, path, cell_res=3)
    assert meta["partitioning"]["resolution"] == 3

    q = (0.1, 0.1, 0.3, 0.3)
    out = read_geoparquet_bbox(spark, path, *q)
    exp = int(((x >= q[0]) & (x <= q[2]) & (y >= q[1]) & (y <= q[3])).sum())
    assert out.count() == exp

    # directory pruning: the physical scan carries a PartitionFilter on
    # the cell column (pruning happens at planning, before file listing)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1)[1][:200]
    # and at runtime, only files under cover-cell directories are read
    from pyspark.sql import functions as F
    all_files = set(read_geoparquet(spark, path)[0].inputFiles())
    used = {r[0] for r in
            out.select(F.input_file_name()).distinct().collect()}
    assert used and used < all_files
    assert all("/cell=" in f for f in used)


def test_partitioned_geoparquet_straddlers_not_dropped(spark,
                                                       tmp_path_factory):
    """A polygon whose bbox CENTER lands in one partition cell but whose
    extent reaches into the query's cells must still be returned by the
    partition-pruned read (ADVICE r2: the cover is expanded by the
    dataset's recorded max feature half-extent)."""
    import numpy as np
    import pandas as pd

    from geopandas_spark.geom import wkt as W
    from geopandas_spark.geom.wkb import to_wkb
    from geopandas_spark.sources.geoparquet import (
        bbox_filter, read_geoparquet, read_geoparquet_bbox,
        write_geoparquet_partitioned)

    r = np.random.default_rng(23)
    n = 300
    # squares of half-size 0.06 centered anywhere: at cell_res 3
    # (cell = 0.125) many straddle cell boundaries
    cx, cy = r.random(n) * 0.8 + 0.1, r.random(n) * 0.8 + 0.1
    h = 0.06
    wkts = ["POLYGON ((%f %f, %f %f, %f %f, %f %f, %f %f))" % (
        cx[i] - h, cy[i] - h, cx[i] + h, cy[i] - h, cx[i] + h, cy[i] + h,
        cx[i] - h, cy[i] + h, cx[i] - h, cy[i] - h) for i in range(n)]
    df = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(n), "geometry": list(to_wkb(W.from_wkt(wkts)))}))
    path = str(tmp_path_factory.mktemp("gpqs") / "sq")
    meta = write_geoparquet_partitioned(df, path, cell_res=3)
    assert abs(meta["partitioning"]["max_half_extent"] - h) < 1e-9

    q = (0.30, 0.30, 0.45, 0.45)
    pruned = read_geoparquet_bbox(spark, path, *q)
    full = bbox_filter(read_geoparquet(spark, path)[0], *q)
    got = sorted(r2.pid for r2 in pruned.select("pid").collect())
    exp = sorted(r2.pid for r2 in full.select("pid").collect())
    assert got == exp and len(exp) > 0


_CLIP_WKT = [
    "POLYGON ((0.1 0.1, 0.4 0.1, 0.4 0.4, 0.1 0.4, 0.1 0.1))",
    "LINESTRING (0 0.3, 0.9 0.3)",
    "POINT (0.3 0.3)",
    "POINT (0.9 0.9)",  # outside: empty result
    "POLYGON ((0.6 0.6, 0.9 0.6, 0.9 0.9, 0.6 0.9, 0.6 0.6))",  # outside
    "GEOMETRYCOLLECTION (POINT (0.3 0.35), "
    "POLYGON ((0.2 0.2, 0.3 0.2, 0.3 0.3, 0.2 0.3, 0.2 0.2)))",
    "POLYGON ((0.5 0.1, 0.7 0.1, 0.7 0.2, 0.5 0.2, 0.5 0.1))",  # corner
    None,
]
_CLIP_RECT = (0.2, 0.2, 0.5, 0.5)


@pytest.mark.parametrize("mask", ["rect", "polygon"])
@pytest.mark.parametrize("keep_geom_type", [False, True])
def test_clip_one_python_node(spark, mask, keep_geom_type):
    """clip runs its kernel, the empty/NULL drop and the keep_geom_type
    GeometryCollection drop in ONE pandas UDF, and returns the rows the
    separate st_is_empty / st_geometry_type filters give."""
    from geopandas_spark.functions.st import (st_clip_by_rect,
                                              st_geometry_type,
                                              st_intersection, st_is_empty)

    pdf = pd.DataFrame({"i": range(len(_CLIP_WKT)),
                        "geometry": list(B.to_wkb(W.from_wkt(_CLIP_WKT)))})
    df = spark.createDataFrame(pdf, "i long, geometry binary")
    if mask == "rect":
        m = _CLIP_RECT
        ref = df.withColumn("geometry", st_clip_by_rect("geometry", *m))
    else:
        minx, miny, maxx, maxy = _CLIP_RECT
        m = bytes(B.to_wkb(W.from_wkt([
            f"POLYGON (({minx} {miny}, {maxx} {miny}, {maxx} {maxy}, "
            f"{minx} {maxy}, {minx} {miny}))"]))[0])
        ref = df.withColumn("geometry",
                            st_intersection("geometry", F.lit(m)))
    ref = ref.filter(~st_is_empty("geometry") & F.col("geometry").isNotNull())
    if keep_geom_type:
        ref = ref.filter(~st_geometry_type("geometry").isin("GeometryCollection"))
    out = clip(df, m, keep_geom_type=keep_geom_type)

    def rows(d):
        return sorted((r["i"], bytes(r["geometry"])) for r in d.collect())

    got = rows(out)
    assert got == rows(ref)
    kept = {i for i, _g in got}
    assert {0, 1, 2}.issubset(kept) and not kept & {3, 4, 7}
    assert (5 in kept) != keep_geom_type
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan
