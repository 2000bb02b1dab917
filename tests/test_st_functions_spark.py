"""Spark-level smoke tests for the newer st_* wrappers: each runs through
a real pandas UDF (Arrow serialization, closure pickling) and checks an
exact expected value."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geopandas_spark.functions import st


@pytest.fixture(scope="module")
def gdf(spark):
    pdf = pd.DataFrame({
        "id": [0, 1, 2],
        "wkt": [
            "POINT (0.25 0.5)",
            "LINESTRING (0 0, 1 0, 1 1)",
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
        ],
    })
    df = spark.createDataFrame(pdf)
    return df.withColumn("geometry", st.st_geomfromtext("wkt")).persist()


def _vals(df, col):
    return [r[0] for r in df.select(col).orderBy("id").collect()]


def test_unary_predicates(gdf):
    out = gdf.select(
        "id",
        st.st_is_valid("geometry").alias("v"),
        st.st_is_simple("geometry").alias("s"),
        st.st_is_closed("geometry").alias("c"),
        st.st_has_z("geometry").alias("z"),
    )
    rows = out.orderBy("id").collect()
    assert [r["v"] for r in rows] == [True, True, True]
    assert [r["s"] for r in rows] == [True, True, True]
    assert [r["c"] for r in rows] == [False, False, False]
    assert [r["z"] for r in rows] == [False, False, False]


def test_constructive(gdf):
    out = gdf.select(
        "id",
        st.st_area(st.st_minimum_bounding_circle("geometry")).alias("mbc"),
        st.st_minimum_bounding_radius("geometry").alias("mbr"),
        st.st_area(st.st_buffer("geometry", 0.5)).alias("buf"),
        st.st_num_coordinates(st.st_segmentize("geometry", 0.5)).alias("nseg"),
    )
    r = {row["id"]: row for row in out.collect()}
    assert abs(r[0]["mbr"]) < 1e-12                      # point radius 0
    assert abs(r[2]["mbr"] - 4 * math.sqrt(2) / 2) < 1e-9
    disc = 16 * math.sin(2 * math.pi / 32) * 0.25
    assert abs(r[0]["buf"] - disc) < 1e-9                # point buffer
    assert abs(r[2]["buf"] - (16 + 8 + disc)) < 1e-3     # square buffer
    assert r[2]["nseg"] == 4 * 8 + 1                     # 4 sides / 0.5


def test_transform_crs(gdf, spark):
    out = gdf.filter(F.col("id") == 0).select(
        st.st_x(st.st_transform("geometry", 4326, 3857)).alias("mx"))
    mx = out.collect()[0]["mx"]
    assert abs(mx - math.radians(0.25) * 6378137.0) < 1e-6


def test_transform_registered_crs_spark(spark):
    """register_crs registrations must reach the EXECUTOR python
    processes: st_transform snapshots the user registry into its UDF
    closure at plan time. Pinned against the driver-side kernel."""
    import numpy as np

    from geopandas_spark.geom.crs import (
        _USER_REGISTRY, register_crs, transform_xy)

    register_crs(26917, "tm", lon0=-81.0, lat0=0.0, k0=0.9996,
                 fe=500000.0, fn=0.0, ellps="GRS80")
    try:
        pdf = pd.DataFrame({"id": [0, 1],
                            "wkt": ["POINT (-79.38 43.65)",
                                    "POINT (-80.5 44.2)"]})
        df = spark.createDataFrame(pdf).withColumn(
            "g", st.st_geomfromtext("wkt"))
        out = df.select(
            "id",
            st.st_x(st.st_transform("g", 4326, 26917)).alias("x"),
            st.st_y(st.st_transform("g", 4326, 26917)).alias("y"),
        ).collect()
        got = {r["id"]: (r["x"], r["y"]) for r in out}
        ex, ey = transform_xy(np.array([-79.38, -80.5]),
                              np.array([43.65, 44.2]), 4326, 26917)
        for i in range(2):
            assert abs(got[i][0] - ex[i]) < 1e-9
            assert abs(got[i][1] - ey[i]) < 1e-9
    finally:
        _USER_REGISTRY.pop(26917, None)


def test_pairwise_boolean_spark(gdf, spark):
    pdf = pd.DataFrame({
        "id": [0],
        "wa": ["POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"],
        "wb": ["POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"],
    })
    df = spark.createDataFrame(pdf)
    df = df.withColumn("a", st.st_geomfromtext("wa")).withColumn(
        "b", st.st_geomfromtext("wb"))
    row = df.select(
        st.st_area(st.st_intersection("a", "b")).alias("i"),
        st.st_area(st.st_union("a", "b")).alias("u"),
        st.st_area(st.st_difference("a", "b")).alias("d"),
        st.st_area(st.st_symmetric_difference("a", "b")).alias("x"),
    ).collect()[0]
    assert (row["i"], row["u"], row["d"], row["x"]) == (4.0, 28.0, 12.0, 24.0)


def test_triangulate_spark(gdf, spark):
    pts = ", ".join(f"{x} {y}" for x, y in
                    np.random.default_rng(3).random((12, 2)))
    df = spark.createDataFrame(pd.DataFrame({"id": [0], "w": [f"MULTIPOINT ({pts})"]}))
    df = df.withColumn("g", st.st_geomfromtext("w"))
    row = df.select(
        st.st_area(st.st_delaunay_triangles("g")).alias("ta"),
        st.st_area(st.st_convex_hull("g")).alias("ha"),
        st.st_area(st.st_concave_hull("g", ratio=1.0)).alias("ca"),
    ).collect()[0]
    assert abs(row["ta"] - row["ha"]) < 1e-9
    assert abs(row["ca"] - row["ha"]) < 1e-9


def test_interpolate_project_spark(gdf):
    line = gdf.filter(F.col("id") == 1)
    row = line.select(
        st.st_astext(st.st_interpolate("geometry", 1.5)).alias("p"),
        st.st_project("geometry", st.st_point(F.lit(1.0), F.lit(0.25))).alias("d"),
    ).collect()[0]
    assert row["p"] == "POINT (1 0.5)"
    assert abs(row["d"] - 1.25) < 1e-12


def test_geojson_spark(gdf, spark):
    from geopandas_spark.sources.geojson import st_asgeojson, st_geomfromgeojson

    rt = gdf.select(
        "id",
        st.st_astext(st_geomfromgeojson(st_asgeojson("geometry"))).alias("t"),
        st.st_astext("geometry").alias("t0"),
    )
    for r in rt.collect():
        assert r["t"] == r["t0"]


def test_polygonize_spark(gdf, spark):
    df = spark.createDataFrame(pd.DataFrame({
        "gid": [1, 1, 1, 1],
        "w": ["LINESTRING (0 0, 1 0)", "LINESTRING (1 0, 1 1)",
              "LINESTRING (1 1, 0 1)", "LINESTRING (0 1, 0 0)"],
    }))
    df = df.withColumn("g", st.st_geomfromtext("w"))
    agg = df.groupBy("gid").agg(F.collect_list("g").alias("gs"))
    row = agg.select(st.st_area(st.st_polygonize("gs")).alias("a")).collect()[0]
    assert abs(row["a"] - 1.0) < 1e-12


def test_sample_points_spark(gdf):
    poly = gdf.filter(F.col("id") == 2)
    out = poly.select(
        st.st_num_geometries(
            st.st_sample_points("geometry", 7, seed=3, row_key="id")).alias("n"))
    assert out.collect()[0]["n"] == 7


def test_disjoint_skew_transform_fn_precision(gdf, spark):
    """Round-2 parity adds: st_disjoint, st_skew, st_transform_fn,
    st_get_precision."""
    # disjoint: point (0.25, 0.5) vs a far square / the containing square
    far = st.st_geomfromtext(F.lit("POLYGON ((9 9, 10 9, 10 10, 9 10, 9 9))"))
    near = st.st_geomfromtext(F.lit("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"))
    rows = gdf.filter(F.col("id") == 0).select(
        st.st_disjoint("geometry", far).alias("d1"),
        st.st_disjoint("geometry", near).alias("d2"),
        st.st_disjoint(F.lit(None).cast("binary"), near).alias("d3"),
    ).collect()[0]
    assert rows["d1"] is True and rows["d2"] is False
    assert rows["d3"] is False  # missing never matches

    # skew 45deg in x about the origin: (x, y) -> (x + y, y)
    sk = gdf.filter(F.col("id") == 0).select(
        st.st_astext(st.st_skew("geometry", xs=45.0, origin=(0, 0)),
                     rounding=2).alias("t")).collect()[0]["t"]
    assert sk == "POINT (0.75 0.5)"

    # transform_fn: user fn doubling x over the coordinate block
    tf = gdf.select(
        "id",
        st.st_astext(st.st_transform_fn(
            "geometry", lambda c: np.column_stack([c[:, 0] * 2, c[:, 1]])),
            rounding=1).alias("t")).orderBy("id").collect()
    assert tf[0]["t"] == "POINT (0.5 0.5)"
    assert tf[1]["t"] == "LINESTRING (0 0, 2 0, 2 1)"

    # get_precision: stored WKB is always full precision
    pr = _vals(gdf.select("id", st.st_get_precision("geometry").alias("p")), "p")
    assert pr == [0.0, 0.0, 0.0]


def test_sample_points_methods(gdf):
    """method='normal' clusters around the centroid; unknown methods
    raise (base.py:5676-5683)."""
    poly = gdf.filter(F.col("id") == 2)  # 4x4 square, centroid (2,2)
    samp = poly.select("id", st.st_sample_points(
        "geometry", 50, seed=7, row_key="id", method="normal").alias("s"))
    import numpy as np

    rows = st.st_get_coordinates_exploded(samp, "s", ["id"]).collect()
    coords = np.array([[r["x"], r["y"]] for r in rows])
    assert len(coords) == 50
    # clustered: mean near centroid, spread well below uniform's
    assert abs(coords[:, 0].mean() - 2.0) < 0.4
    assert coords[:, 0].std() < 0.9  # uniform std would be ~1.15

    # cluster_poisson: Matérn cluster process — all points inside the
    # polygon, and clumped (mean nearest-parent spread below uniform).
    cp = poly.select("id", st.st_sample_points(
        "geometry", 40, seed=11, row_key="id",
        method="cluster_poisson").alias("s"))
    rows = st.st_get_coordinates_exploded(cp, "s", ["id"]).collect()
    c2 = np.array([[r["x"], r["y"]] for r in rows])
    assert len(c2) == 40
    assert (c2 >= 0.0).all() and (c2 <= 4.0).all()  # inside the 4x4 square
    # pointpats methods are polygon-only: lines yield an empty MultiPoint
    line = gdf.filter(F.col("id") == 1)
    n = line.select(st.st_num_geometries(st.st_sample_points(
        "geometry", 5, seed=1, row_key="id",
        method="cluster_poisson")).alias("n")).collect()[0]["n"]
    assert n == 0
    with pytest.raises(ValueError):
        st.st_sample_points("geometry", 5, method="ripley_nope")


def test_sample_points_custom_sampler(gdf):
    """Pluggable samplers (reference: arbitrary pointpats method strings,
    base.py:5676-5683): a registered or directly-passed callable proposes
    candidates that the engine rejection-clips; results are deterministic
    under repartitioning (per-row seeded rng)."""
    import numpy as np

    from geopandas_spark.functions.st import register_sampler

    def left_half(rng, m, ctx):
        xs = rng.uniform(ctx["minx"], ctx["cx"], m)
        ys = rng.uniform(ctx["miny"], ctx["maxy"], m)
        return xs, ys

    register_sampler("left_half", left_half)
    poly = gdf.filter(F.col("id") == 2)  # 4x4 square at origin
    for method in ("left_half", left_half):
        samp = poly.select("id", st.st_sample_points(
            "geometry", 30, seed=5, row_key="id", method=method).alias("s"))
        rows = st.st_get_coordinates_exploded(samp, "s", ["id"]).collect()
        c = np.array([[r["x"], r["y"]] for r in rows])
        assert len(c) == 30
        assert (c[:, 0] <= 2.0).all() and (c[:, 0] >= 0.0).all()

    # determinism under partitioning: same rows, different layout
    a = poly.select(st.st_astext(st.st_sample_points(
        "geometry", 10, seed=9, row_key="id",
        method="left_half")).alias("w")).collect()[0]["w"]
    b = poly.repartition(8).select(st.st_astext(st.st_sample_points(
        "geometry", 10, seed=9, row_key="id",
        method="left_half")).alias("w")).collect()[0]["w"]
    assert a == b

    # pointpats-style custom samplers are polygon-only: lines -> empty
    line = gdf.filter(F.col("id") == 1)
    n = line.select(st.st_num_geometries(st.st_sample_points(
        "geometry", 5, seed=1, row_key="id",
        method="left_half")).alias("n")).collect()[0]["n"]
    assert n == 0


def test_get_coordinates_exploded_include_z(spark):
    """DataFrame-level get_coordinates(include_z=True): z column present,
    NaN for 2-D rows (reference base.py:5550-5622)."""
    import math

    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({
        "id": [0, 1],
        "w": ["LINESTRING Z (0 0 5, 1 1 6)", "POINT (2 3)"],
    })).withColumn("g", st.st_geomfromtext("w"))
    out = st.st_get_coordinates_exploded(df, "g", ["id"], include_z=True)
    rows = sorted(out.collect(), key=lambda r: (r["id"], r["coord_index"]))
    assert [r["z"] for r in rows[:2]] == [5.0, 6.0]
    # 2-D rows: reference emits NaN z; through Arrow/Spark that's NULL
    assert rows[2]["z"] is None or math.isnan(rows[2]["z"])
    out2 = st.st_get_coordinates_exploded(df, "g", ["id"])
    assert "z" not in out2.columns


@pytest.mark.parametrize("compact", [False, True])
def test_st_cells_matches_numpy_cover(spark, compact):
    """st_cells == index.cells.bbox_cover (then compact_cover) of each
    row's bbox: NULL for a NULL or EMPTY geometry, one cell for a point,
    a full cover for a normal polygon, and the coarse fallback of a row
    over ``max_cells``."""
    from geopandas_spark.geom import wkb as B
    from geopandas_spark.geom import wkt as W
    from geopandas_spark.index import cells as C

    wkt = ["POINT (0.3 0.7)",
           "POLYGON ((0.1 0.1, 0.16 0.1, 0.16 0.13, 0.1 0.13, 0.1 0.1))",
           "POLYGON ((0.02 0.03, 0.97 0.03, 0.97 0.98, 0.02 0.98, 0.02 0.03))",
           "LINESTRING (0.5 0.5, 0.55 0.62)"]
    bbs = [(0.3, 0.7, 0.3, 0.7), (0.1, 0.1, 0.16, 0.13),
           (0.02, 0.03, 0.97, 0.98), (0.5, 0.5, 0.55, 0.62)]
    geoms = ([None, B.to_wkb(W.from_wkt(["POLYGON EMPTY"]))[0]]
             + list(B.to_wkb(W.from_wkt(wkt))))
    df = spark.createDataFrame(list(enumerate(geoms)),
                               "id long, geometry binary")
    res, max_cells = 6, 64
    got = [r["c"] for r in df.select("id", st.st_cells(
        "geometry", res, compact=compact, max_cells=max_cells).alias("c"))
        .orderBy("id").collect()]
    bb = np.array(bbs)
    flat, off = C.bbox_cover(bb[:, 0], bb[:, 1], bb[:, 2], bb[:, 3], res,
                             max_cells=max_cells)
    if compact:
        flat, off = C.compact_cover(flat, off)
    want = [None, None] + [flat[off[i]:off[i + 1]].tolist()
                           for i in range(len(bbs))]
    assert got == want
    # the over-max_cells row fell back to a coarser res; the others did not
    assert C.cell_res(np.array(got[4])).max() < res
    assert C.cell_res(np.array(got[3])).max() == res or compact
    assert len(got[2]) == 1 and len(got[3]) > 1 and len(got[5]) > 1
