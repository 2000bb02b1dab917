"""overlay 5 modes vs the reference's documented expectations
(tools/overlay.py:124-165 docstring literals; tests/test_overlay.py goldens
are the same two offset 2x2 square grids)."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geopandas_spark.functions.st import st_area, st_astext
from geopandas_spark.geom import wkb as B
from geopandas_spark.geom import wkt as W
from geopandas_spark.operators.overlay import overlay
from geopandas_spark.testing import geom_set


@pytest.fixture(scope="module")
def frames(spark):
    df1 = spark.createDataFrame(pd.DataFrame({
        "col1": [1, 2],
        "geometry": list(B.to_wkb(W.from_wkt([
            "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
            "POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))"])))}))
    df2 = spark.createDataFrame(pd.DataFrame({
        "col2": [1, 2],
        "geometry": list(B.to_wkb(W.from_wkt([
            "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))",
            "POLYGON ((3 3, 5 3, 5 5, 3 5, 3 3))"])))}))
    return df1, df2


# expected rows/areas from tools/overlay.py:131-165
EXPECT = {
    "intersection": (3, 3.0),
    "union": (7, 13.0),
    "symmetric_difference": (4, 10.0),
    "difference": (2, 5.0),
    "identity": (5, 8.0),
}


@pytest.mark.parametrize("how", list(EXPECT))
def test_overlay_modes(frames, how, spark):
    df1, df2 = frames
    out = overlay(df1, df2, how=how).withColumn("a", st_area("geometry"))
    rows = out.collect()
    n, area = EXPECT[how]
    assert len(rows) == n
    assert np.isclose(sum(r["a"] for r in rows), area)
    if how == "difference":
        assert "col2" not in out.columns
    else:
        assert "col1" in out.columns and "col2" in out.columns


def test_overlay_intersection_exact_geometries(frames, spark):
    df1, df2 = frames
    out = overlay(df1, df2, how="intersection").collect()
    got = geom_set([r["geometry"] for r in out])
    exp = geom_set(B.to_wkb(W.from_wkt([
        "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))",
        "POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2))",
        "POLYGON ((3 3, 4 3, 4 4, 3 4, 3 3))",
    ])))
    assert got == exp
    pairs = {(r["col1"], r["col2"]) for r in out}
    assert pairs == {(1, 1), (2, 1), (2, 2)}


def test_overlay_union_attr_padding(frames, spark):
    df1, df2 = frames
    out = overlay(df1, df2, how="union").toPandas()
    assert out.col1.isna().sum() == 2  # df2 residuals
    assert out.col2.isna().sum() == 2  # df1 residuals


def test_overlay_candidates_matches_brute_force(spark):
    """overlay_candidates == the exact bbox-overlap pair set (brute
    force over all bboxes), including touching bboxes, mixed sizes, a
    giant on each side (a bbox over max_cells cells at the auto
    resolution) and empty geometries (dropped)."""
    from geopandas_spark.operators.overlay import overlay_candidates

    rng = np.random.RandomState(7)
    def rect(x0, y0, w, h):
        return f"POLYGON (({x0} {y0}, {x0+w} {y0}, {x0+w} {y0+h}, {x0} {y0+h}, {x0} {y0}))"

    boxes1, boxes2 = [], []
    for i in range(40):
        x, y = rng.rand(2) * 0.8
        w = 0.01 + 0.5 * (i == 0)  # one huge bbox -> coarse cover row
        boxes1.append((x, y, w, 0.01 + 0.2 * (i == 1)))
    for j in range(40):
        x, y = rng.rand(2) * 0.8
        boxes2.append((x, y, 0.02, 0.02))
    # 400 tiny boxes per side bring the auto resolution to 7, where a
    # 0.9 x 0.9 box covers ~13k cells: a giant on each side
    for boxes in (boxes1, boxes2):
        boxes += [(x, y, 0.001, 0.001) for x, y in rng.rand(400, 2) * 0.99]
        boxes.append((0.03, 0.05, 0.9, 0.9))
    # a guaranteed exactly-touching pair
    boxes1.append((0.9, 0.9, 0.05, 0.05))
    boxes2.append((0.95, 0.9, 0.05, 0.05))
    wkt1 = [rect(*b) for b in boxes1] + ["POLYGON EMPTY"]
    wkt2 = [rect(*b) for b in boxes2]
    df1 = spark.createDataFrame(pd.DataFrame({
        "i": range(len(wkt1)),
        "geometry": list(B.to_wkb(W.from_wkt(wkt1)))}))
    df2 = spark.createDataFrame(pd.DataFrame({
        "j": range(len(wkt2)),
        "geometry": list(B.to_wkb(W.from_wkt(wkt2)))}))
    got = {(r["i"], r["j"]) for r in
           overlay_candidates(df1, df2, id1="i", id2="j").collect()}
    want = set()
    for i, (x1, y1, w1, h1) in enumerate(boxes1):
        for j, (x2, y2, w2, h2) in enumerate(boxes2):
            if x1 <= x2 + w2 and x2 <= x1 + w1 and y1 <= y2 + h2 and y2 <= y1 + h1:
                want.add((i, j))
    assert got == want
    touch = (len(boxes1) - 1, len(boxes2) - 1)
    assert touch in got  # the touching pair survived
    giants = (len(boxes1) - 2, len(boxes2) - 2)
    assert giants in got
    assert sum(1 for i, _ in got if i == giants[0]) > 300
    assert sum(1 for _, j in got if j == giants[1]) > 300
    # envelope-intersection bounds are the pairwise max/min of the bboxes
    row = (overlay_candidates(df1, df2, id1="i", id2="j")
           .filter((F.col("i") == touch[0]) & (F.col("j") == touch[1]))
           .collect()[0])
    assert row["iminx"] == pytest.approx(0.95) and row["imaxx"] == pytest.approx(0.95)


def test_overlay_pair_on(spark):
    """pair_on restricts candidates to equal-key pairs; results equal the
    post-filtered unkeyed overlay. Keys follow Spark SQL ``=``: NULL never
    pairs, NaN pairs with NaN and -0.0 pairs with 0.0."""
    from geopandas_spark.operators.overlay import overlay

    def rect(x, y, w, h):
        return (f"POLYGON (({x} {y}, {x+w} {y}, {x+w} {y+h}, "
                f"{x} {y+h}, {x} {y}))")

    def frames(k1, k2, ktype):
        # every geometry overlaps every other spatially; only the keys
        # split the pairs
        wkt = [rect(0.05 * i, 0.0, 0.5, 0.5) for i in range(len(k1))]
        geoms = list(B.to_wkb(W.from_wkt(wkt)))
        return (spark.createDataFrame(list(zip(range(len(k1)), k1, geoms)),
                                      f"i long, k {ktype}, geometry binary"),
                spark.createDataFrame(list(zip(range(len(k2)), k2, geoms)),
                                      f"j long, k {ktype}, geometry binary"))

    def sql_eq(a, b):
        if a is None or b is None:
            return False
        if a != a:
            return b != b
        return a == b

    nan = float("nan")
    for k1, k2, ktype, n in (
            ([0, 0, 1, 1], [0, 1, 0, 1], "long", 8),  # 2 keys x (2x2)
            ([0.0, 0.0, 1.0, 1.0, None, nan, -0.0, nan],
             [0.0, 1.0, 0.0, 1.0, None, nan, 0.0, None], "double", 15)):
        df1, df2 = frames(k1, k2, ktype)
        keyed = overlay(df1, df2, how="intersection", id1="i", id2="j",
                        make_valid=False, pair_on="k")
        got = {(r["i"], r["j"]) for r in keyed.collect()}
        full = overlay(df1, df2, how="intersection", id1="i", id2="j",
                       make_valid=False)
        want = {(r["i"], r["j"]) for r in full.collect()
                if sql_eq(k1[r["i"]], k2[r["j"]])}
        assert got == want and len(got) == n, (ktype, sorted(got))
    # a giant on each side (a 0.9 x 0.9 square among 0.002 squares: over
    # max_cells cells at the auto resolution, 7), keys with a NULL
    rng = np.random.default_rng(3)
    sq = [rect(x, y, 0.002, 0.002) for x, y in rng.random((400, 2)) * 0.99]
    big = list(B.to_wkb(W.from_wkt(
        sq[:200] + [rect(0.04, 0.05, 0.9, 0.9)]
        + sq[200:] + [rect(0.02, 0.03, 0.9, 0.9)])))
    k1 = [None if i == 7 else i % 2 for i in range(201)]
    k2 = [i % 2 for i in range(201)]
    gd1 = spark.createDataFrame(list(zip(range(201), k1, big[:201])),
                                "i long, k long, geometry binary")
    gd2 = spark.createDataFrame(list(zip(range(201), k2, big[201:])),
                                "j long, k long, geometry binary")
    keyed = overlay(gd1, gd2, how="intersection", id1="i", id2="j",
                    make_valid=False, pair_on="k")
    got = [(r["i"], r["j"]) for r in keyed.collect()]
    full = overlay(gd1, gd2, how="intersection", id1="i", id2="j",
                   make_valid=False)
    want = {(r["i"], r["j"]) for r in full.collect()
            if sql_eq(k1[r["i"]], k2[r["j"]])}
    assert set(got) == want and len(got) == len(want)
    assert (200, 200) in want  # the giants meet
    assert sum(1 for i, _ in want if i == 200) > 50
    assert sum(1 for _, j in want if j == 200) > 50
    with pytest.raises(ValueError, match="pair_on"):
        overlay(df1, df2.drop("k"), id1="i", id2="j", pair_on="k")
    # sjoin's on_attribute checks
    with pytest.raises(ValueError, match="atomic"):
        overlay(df1.withColumn("a", F.array("i")),
                df2.withColumn("a", F.array("j")), id1="i", id2="j",
                pair_on="a")
    with pytest.raises(ValueError, match="geometry"):
        overlay(df1, df2, id1="i", id2="j", pair_on="geometry")


def _star_wkt(cx, cy, r):
    """12-spoke star polygon (alternating radius r and r/2)."""
    pts = []
    for k in range(13):
        a = 2 * np.pi * (k % 12) / 12
        rad = r if k % 2 == 0 else r / 2
        pts.append(f"{cx + rad * np.cos(a)} {cy + rad * np.sin(a)}")
    return "POLYGON ((" + ", ".join(pts) + "))"


@pytest.mark.parametrize("giant_in", ["df1", "df2"])
def test_overlay_broadcast_vs_shuffle(spark, monkeypatch, giant_in):
    """The broadcast intersection probe and the shuffle plan give the same
    rows in all five modes on stars plus one giant polygon (its cover
    overflows max_cells at resolution 8): the same areas per (i, j) pair
    for intersection rows and per residual row. The shuffle plan runs
    forced (no build side fits) with auto ids, and under a constant
    ``pair_on`` column on both sides, which has the same semantics."""
    from geopandas_spark.operators import _planner as P

    rng = np.random.default_rng(9)

    def layer(n, giant):
        wkt = [_star_wkt(*(rng.random(2) * 0.8 + 0.1), 0.02 + 0.04 * rng.random())
               for _ in range(n)]
        if giant:
            wkt.append("POLYGON ((0.05 0.1, 0.9 0.05, 0.95 0.9, 0.1 0.95, "
                       "0.05 0.1))")
        return pd.DataFrame({"k": 0, "geometry": list(B.to_wkb(W.from_wkt(wkt)))})

    p1 = layer(50, giant_in == "df1")
    p2 = layer(50, giant_in == "df2")
    df1 = spark.createDataFrame(p1.assign(i=range(len(p1))))
    df2 = spark.createDataFrame(p2.assign(j=range(len(p2))))

    def run(how, ids=("i", "j"), forced=False, **kw):
        # i and j stay data columns with auto ids; a residual row has
        # None for the other side's id (difference drops df2's columns)
        with monkeypatch.context() as m:
            if forced:
                m.setattr(P, "BROADCAST_EXPLODED_ROWS", 0)
            out = overlay(df1, df2, how=how, id1=ids[0], id2=ids[1],
                          resolution=8, make_valid=False, **kw)
        j = F.col("j") if "j" in out.columns else F.lit(None)
        rows = (out.select("i", j.alias("j"), st_area("geometry").alias("a"))
                .collect())
        got = {(r["i"], r["j"]): r["a"] for r in rows}
        assert len(got) == len(rows)
        return got

    for how, n in (("intersection", 60), ("union", 100), ("identity", 100),
                   ("symmetric_difference", 40), ("difference", 3)):
        bcast = run(how)
        assert len(bcast) > n, how
        for shuffle in (run(how, ids=(None, None), forced=True),
                        run(how, pair_on="k")):
            assert bcast.keys() == shuffle.keys(), how
            for key, a in bcast.items():
                assert abs(a - shuffle[key]) <= 1e-9, (how, key)


def _square(x, y, s):
    return f"POLYGON (({x} {y}, {x+s} {y}, {x+s} {y+s}, {x} {y+s}, {x} {y}))"


@pytest.fixture(scope="module")
def touching_frames(spark):
    """Three df1/df2 square pairs whose intersections are a Polygon
    (overlap), a LineString (shared edge) and a Point (shared corner)."""
    w1 = [_square(0.1, 0.1, 0.2), _square(0.5, 0.1, 0.1), _square(0.8, 0.1, 0.1)]
    w2 = [_square(0.2, 0.2, 0.2), _square(0.6, 0.1, 0.1), _square(0.9, 0.2, 0.1)]
    df1 = spark.createDataFrame(pd.DataFrame({
        "i": range(3), "k": 0, "geometry": list(B.to_wkb(W.from_wkt(w1)))}))
    df2 = spark.createDataFrame(pd.DataFrame({
        "j": range(3), "k": 0, "geometry": list(B.to_wkb(W.from_wkt(w2)))}))
    return df1, df2


@pytest.mark.parametrize("path", ["broadcast", "narrow", "pair_on"])
def test_overlay_keep_geom_type(spark, touching_frames, path):
    """keep_geom_type=True returns the keep_geom_type=False rows whose
    geometry type is Polygon or MultiPolygon, on the broadcast probe (with
    the join assembly, and narrow: id-only frames) and on the pair_on
    shuffle path."""
    from geopandas_spark.functions.st import st_geometry_type

    df1, df2 = touching_frames
    if path == "narrow":
        df1, df2 = df1.drop("k"), df2.drop("k")
    kw = {"pair_on": "k"} if path == "pair_on" else {}

    def run(keep):
        return overlay(df1, df2, how="intersection", id1="i", id2="j",
                       make_valid=False, keep_geom_type=keep, **kw)

    def rows(df):
        return sorted((r["i"], r["j"], bytes(r["geometry"]))
                      for r in df.select("i", "j", "geometry").collect())

    loose = run(False).withColumn("t", st_geometry_type("geometry"))
    assert sorted(r["t"] for r in loose.collect()) == [
        "LineString", "Point", "Polygon"]
    want = rows(loose.filter(F.col("t").isin("Polygon", "MultiPolygon")))
    got = rows(run(True))
    assert got == want and [(i, j) for i, j, _g in got] == [(0, 0)]


@pytest.fixture(scope="module")
def star_frames():
    """Two pandas star layers; a few shapes per layer touch or overlap
    each other exactly, so pairs of every result type occur."""
    rng = np.random.default_rng(17)

    def layer(n, squares):
        wkt = [_star_wkt(*(rng.random(2) * 0.8 + 0.1),
                         0.02 + 0.04 * rng.random()) for _ in range(n)]
        return pd.DataFrame({"geometry": list(B.to_wkb(W.from_wkt(
            wkt + squares)))})

    return (layer(60, [_square(0.1, 0.1, 0.2), _square(0.5, 0.1, 0.1)]),
            layer(60, [_square(0.2, 0.2, 0.2), _square(0.6, 0.1, 0.1)]))


@pytest.mark.parametrize("path", ["broadcast", "shuffle"])
@pytest.mark.parametrize("ids", ["distinct", "same_name", "auto"])
def test_overlay_narrow_matches_join(spark, star_frames, monkeypatch, path,
                                     ids):
    """how='intersection' on frames that carry only (id, geometry) selects
    its output straight from the checkpointed pairs: the same rows, WKB
    bytes and column order as the join assembly (forced here by an extra
    df1 column, dropped afterwards), and an executed plan with no Python
    node and no join. Frames with an attribute, auto ids included, take
    the join."""
    from geopandas_spark.operators import _planner as P

    if path == "shuffle":  # no build side fits: the cell-join pass
        monkeypatch.setattr(P, "BROADCAST_EXPLODED_ROWS", 0)
    p1, p2 = star_frames
    name1, name2 = {"distinct": ("i", "j"), "same_name": ("id", "id"),
                    "auto": (None, None)}[ids]
    df1 = spark.createDataFrame(p1 if name1 is None
                                else p1.assign(**{name1: range(len(p1))}))
    df2 = spark.createDataFrame(p2 if name2 is None
                                else p2.assign(**{name2: range(len(p2))}))

    def run(a):
        return overlay(a, df2, how="intersection", id1=name1, id2=name2,
                       make_valid=False)

    def rows(d):
        return sorted(tuple(bytes(v) if isinstance(v, (bytes, bytearray))
                            else v for v in r) for r in d.collect())

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    narrow = run(df1)
    joined = run(df1.withColumn("x", F.lit(1))).drop("x")
    want_cols = {"distinct": ["geometry", "i", "j"],
                 "same_name": ["geometry", "id_1", "id_2"],
                 "auto": ["geometry"]}[ids]
    assert narrow.columns == joined.columns == want_cols
    got = rows(narrow)
    assert got == rows(joined) and len(got) > 40
    p = plan(narrow)
    assert "EvalPython" not in p and "Join" not in p, p
    assert "Join" in plan(joined)



@pytest.mark.parametrize("case", ["forced", "pair_on", "candidates"])
def test_shuffle_pair_pass_plan(spark, star_frames, monkeypatch, case):
    """The shuffle plans of overlay (narrow and forced; pair_on) and
    overlay_candidates pair rows in sjoin's cell cogroup, a MapInPandas
    pass. localCheckpoint is made a no-op so the pass stays in the
    executed plan. No join node pairs rows on a cell (the narrow overlay
    and overlay_candidates have no join at all; pair_on's are the
    assembly's id joins), and every ArrowEvalPython node is one of the
    inputs' prep UDFs: the bounds of one geometry or the cover of its
    bbox. overlay_candidates has no aggregate (no dedup exchange)."""
    from geopandas_spark.operators import _planner as P
    from geopandas_spark.operators.overlay import overlay_candidates

    p1, p2 = star_frames
    df1 = spark.createDataFrame(p1.assign(i=range(len(p1)), k=0))
    df2 = spark.createDataFrame(p2.assign(j=range(len(p2)), k=0))
    monkeypatch.setattr(type(df1), "localCheckpoint",
                        lambda self, eager=True, storageLevel=None: self)
    if case == "forced":
        monkeypatch.setattr(P, "BROADCAST_EXPLODED_ROWS", 0)
        out = overlay(df1.drop("k"), df2.drop("k"), id1="i", id2="j",
                      make_valid=False)
    elif case == "pair_on":
        out = overlay(df1, df2, id1="i", id2="j", make_valid=False,
                      pair_on="k")
    else:
        out = overlay_candidates(df1, df2, id1="i", id2="j")
    plan = out._jdf.queryExecution().executedPlan().toString()
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    assert not any("__cell" in ln for ln in joins), plan
    assert len(joins) == (2 if case == "pair_on" else 0), plan
    prep = (r"_f\((?:\w+#\d+L?|__bb#\d+\.minx, __bb#\d+\.miny, "
            r"__bb#\d+\.maxx, __bb#\d+\.maxy)\)#\d+")
    for node in re.findall(r"ArrowEvalPython \[([^\]]*)\]", plan):
        assert re.fullmatch(prep, node), node
    if case == "candidates":
        assert "Aggregate" not in plan, plan
    assert "MapInPandas" in plan, plan


@pytest.fixture(scope="module")
def residual_frames(spark):
    """df1 rows whose residual is partial (0), empty (1: covered by a df2
    row), kept whole (2: no counterpart), or dropped without a
    counterpart (3: empty geometry, 4: NULL geometry)."""
    w1 = B.to_wkb(W.from_wkt([_square(0.1, 0.1, 0.2),
                              _square(0.5, 0.5, 0.1),
                              _square(0.8, 0.8, 0.1), "POLYGON EMPTY"]))
    w2 = B.to_wkb(W.from_wkt([_square(0.2, 0.2, 0.2),
                              _square(0.45, 0.45, 0.2)]))
    df1 = spark.createDataFrame(pd.DataFrame({
        "i": range(5), "geometry": [*w1, None], "a": list("abcde")}),
        "i long, geometry binary, a string")
    df2 = spark.createDataFrame(pd.DataFrame({
        "j": range(2), "geometry": list(w2)}))
    return df1, df2


def _python_nodes(d):
    plan = d._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"(?:EvalPython|MapInArrow|MapInPandas) \[[^\]]*\]",
                      plan)


@pytest.mark.parametrize("how", ["difference", "symmetric_difference",
                                 "identity", "union"])
def test_overlay_residuals_one_python_node(residual_frames, how):
    """Each residual side is one Python node: the difference kernel drops
    NULL and empty results itself (a filter on its output ran it twice,
    plus an st_is_empty node)."""
    df1, df2 = residual_frames
    out = overlay(df1, df2, how=how, id1="i", id2="j", make_valid=False)
    nodes = _python_nodes(out)
    sides = 2 if how in ("symmetric_difference", "union") else 1
    assert sum("__others" in n for n in nodes) == sides, nodes
    # the rest is keep_geom_type's st_geometry_type filter, pushed into
    # each unioned piece (difference skips it): no st_is_empty node
    pieces = {"difference": 0, "identity": 2, "symmetric_difference": 2,
              "union": 3}[how]
    assert len(nodes) == sides + pieces, nodes
    if how == "difference":
        rows = out.collect()
        assert out.columns == ["i", "geometry", "a"]
        assert sorted(r["i"] for r in rows) == [0, 2]


def test_residuals_match_old_filters(spark, residual_frames, star_frames):
    """The exploded kernel gives the rows of the former form: the
    difference UDF under ``when(others is NULL)`` and a filter dropping
    empty and NULL results."""
    from pyspark.sql.functions import pandas_udf

    from geopandas_spark.functions.st import st_is_empty
    from geopandas_spark.operators.overlay import (
        _difference_vs_union, _residuals, overlay_candidates)

    def _diff(g: pd.Series, others: pd.Series) -> pd.Series:
        return pd.Series(_difference_vs_union(g, others))

    diff = pandas_udf(_diff, "binary")

    def old(src, pairs):
        nb = (pairs.groupBy("__i1")
              .agg(F.collect_list("__g2").alias("__others"))
              .withColumnRenamed("__i1", "i"))
        return (src.join(nb, on="i", how="left")
                .withColumn("geometry", F.when(
                    F.col("__others").isNull(), F.col("geometry")).otherwise(
                    diff(F.col("geometry"), F.col("__others"))))
                .drop("__others")
                .filter(~st_is_empty("geometry")
                        & F.col("geometry").isNotNull()))

    def rows(d):
        return sorted(tuple(bytes(v) if isinstance(v, (bytes, bytearray))
                            else v for v in r) for r in d.collect())

    df1, df2 = residual_frames
    pairs = spark.createDataFrame(
        pd.DataFrame({"__i1": [0, 1], "__g2": [r["geometry"] for r in
                                                df2.orderBy("j").collect()]}))
    p1, p2 = star_frames
    s1 = spark.createDataFrame(p1.assign(i=range(len(p1))))
    s2 = spark.createDataFrame(p2.assign(j=range(len(p2))))
    # every bbox-overlapping neighbor (a disjoint one subtracts nothing)
    star_pairs = (overlay_candidates(s1, s2, id1="i", id2="j")
                  .join(s2.withColumnRenamed("geometry", "__g2"), on="j")
                  .select(F.col("i").alias("__i1"), "__g2"))
    for src, prs, n in ((df1, pairs, 2), (s1, star_pairs, 30)):
        new = _residuals(src, prs, "i", "__g2", "__i1", "geometry")
        want = old(src, prs)
        assert new.columns == want.columns
        got = rows(new)
        assert got == rows(want) and len(got) >= n
