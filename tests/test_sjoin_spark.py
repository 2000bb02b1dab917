"""Distributed sjoin vs brute-force oracle (mirrors
tools/tests/test_sjoin.py semantics pins + benchmarks/sjoin.py shapes)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geopandas_spark.geom import wkb as B
from geopandas_spark.geom.predicates import pairwise_predicate
from geopandas_spark.operators.sjoin import sjoin
from tests.conftest import make_points_df, make_triangles_df

NPTS, NTRI = 600, 40


@pytest.fixture(scope="module")
def data(spark):
    pdf, px, py = make_points_df(spark, NPTS, seed=42)
    tdf, tri_wkb = make_triangles_df(spark, NTRI, seed=7)
    pts_wkb = [r["geometry"] for r in
               pdf.select("geometry").orderBy("pid").collect()]
    lb = B.from_wkb(np.repeat(np.array(pts_wkb, dtype=object), NTRI))
    rb = B.from_wkb(np.tile(np.array(tri_wkb, dtype=object), NPTS))
    return pdf, tdf, lb, rb


def brute(lb, rb, pred, distance=None):
    truth = pairwise_predicate(pred, lb, rb, distance).reshape(NPTS, NTRI)
    return set(zip(*np.nonzero(truth)))


@pytest.mark.parametrize("pred", ["intersects", "within", "covered_by", "dwithin"])
def test_points_in_triangles(data, pred, spark):
    pdf, tdf, lb, rb = data
    dist = 0.05 if pred == "dwithin" else None
    out = sjoin(pdf, tdf, predicate=pred, distance=dist,
                left_id="pid", right_id="tid").toPandas()
    got = set(zip(out.pid.astype(int), out.index_right.astype(int)))
    assert got == brute(lb, rb, pred, dist)


def test_reverse_contains(data, spark):
    pdf, tdf, lb, rb = data
    out = sjoin(tdf, pdf, predicate="contains",
                left_id="tid", right_id="pid").toPandas()
    got = set(zip(out.index_right.astype(int), out.tid.astype(int)))
    assert got == brute(lb, rb, "within")  # pts within tri == tri contains pts


def test_left_join_padding(data, spark):
    pdf, tdf, lb, rb = data
    exp = brute(lb, rb, "intersects")
    out = sjoin(pdf, tdf, how="left", left_id="pid", right_id="tid").toPandas()
    matched = {p for p, _ in exp}
    assert len(out) == len(exp) + (NPTS - len(matched))
    assert out.index_right.isna().sum() == NPTS - len(matched)
    # suffix rule (sjoin.py:193-224): shared columns get _left/_right
    assert "name_left" in out.columns and "name_right" in out.columns
    assert "value_left" in out.columns


def test_right_join(data, spark):
    pdf, tdf, lb, rb = data
    exp = brute(lb, rb, "intersects")
    out = sjoin(pdf, tdf, how="right", left_id="pid", right_id="tid").toPandas()
    matched_tris = {t for _, t in exp}
    assert len(out) == len(exp) + (NTRI - len(matched_tris))
    assert "index_left" in out.columns


def test_on_attribute(data, spark):
    pdf, tdf, lb, rb = data
    # add a shared attribute: parity of id
    p2 = pdf.withColumn("par", F.pmod("pid", F.lit(2)))
    t2 = tdf.withColumn("par", F.pmod("tid", F.lit(2)))
    out = sjoin(p2, t2, on_attribute="par", left_id="pid", right_id="tid").toPandas()
    exp = {(p, t) for (p, t) in brute(lb, rb, "intersects") if p % 2 == t % 2}
    got = set(zip(out.pid.astype(int), out.index_right.astype(int)))
    assert got == exp


# on_attribute values per side, as (Spark column, Python value) builders
# over the row id. Spark SQL `=` join semantics: NULL never matches,
# NaN matches NaN, -0.0 matches 0.0.
_NAN = float("nan")
_ATTRS = {
    "null": [(
        lambda k: F.when(k % 5 == 0, F.lit(None).cast("long")).otherwise(k % 3),
        lambda k: None if k % 5 == 0 else k % 3,
        lambda k: F.when(k % 4 == 1, F.lit(None).cast("long")).otherwise(k % 3),
        lambda k: None if k % 4 == 1 else k % 3,
    )],
    "nan": [(
        lambda k: F.when(k % 4 == 0, F.lit(_NAN)).otherwise((k % 2).cast("double")),
        lambda k: _NAN if k % 4 == 0 else float(k % 2),
        lambda k: F.when(k % 3 == 0, F.lit(_NAN)).otherwise((k % 2).cast("double")),
        lambda k: _NAN if k % 3 == 0 else float(k % 2),
    )],
    "negzero": [(
        lambda k: F.when(k % 2 == 0, F.lit(-0.0)).otherwise(F.lit(1.0)),
        lambda k: -0.0 if k % 2 == 0 else 1.0,
        lambda k: F.when(k % 3 == 0, F.lit(0.0)).when(k % 3 == 1, F.lit(-0.0))
                   .otherwise(F.lit(1.0)),
        lambda k: 0.0 if k % 3 == 0 else (-0.0 if k % 3 == 1 else 1.0),
    )],
    "string": [(
        lambda k: F.concat(F.lit("s"), (k % 3).cast("string")),
        lambda k: f"s{k % 3}",
        lambda k: F.concat(F.lit("s"), (k % 3).cast("string")),
        lambda k: f"s{k % 3}",
    )],
    # Arrow hands a collected timestamp over tz-aware, a pandas UDF
    # naive in session time; the values are the key k % 3, in micros
    "timestamp": [(
        lambda k: F.when(k % 5 == 0, F.lit(None).cast("timestamp"))
                   .otherwise(F.timestamp_micros(k % 3 * 86_400_000_001)),
        lambda k: None if k % 5 == 0 else k % 3,
        lambda k: F.timestamp_micros(k % 3 * 86_400_000_001),
        lambda k: k % 3,
    )],
    "two": [
        (lambda k: k % 2, lambda k: k % 2, lambda k: k % 2, lambda k: k % 2),
        (lambda k: F.concat(F.lit("s"), (k % 3).cast("string")),
         lambda k: f"s{k % 3}",
         lambda k: F.concat(F.lit("s"), (k % 3).cast("string")),
         lambda k: f"s{k % 3}"),
    ],
}

_PLANS = {
    "auto": {},
    "broadcast": {"broadcast_right": True},
    "shuffle": {"broadcast_right": False},
    "salted": {"salt_hot_cells": True, "hot_cell_threshold": 2,
               "salt_factor": 4},
    "dwithin": {"predicate": "dwithin", "distance": 0.05},
    "left": {"how": "left"},
    "right": {"how": "right"},
}


def _sql_eq(a, b):
    if a is None or b is None:
        return False
    if isinstance(a, float) and a != a:
        return b != b
    return a == b


@pytest.mark.parametrize("plan", list(_PLANS))
@pytest.mark.parametrize("attr", list(_ATTRS))
def test_on_attribute_plans(data, spark, attr, plan):
    """Differential: every plan sjoin can pick for an on_attribute join
    returns the brute-force pair set under Spark SQL `=` semantics."""
    pdf, tdf, lb, rb = data
    kw = dict(_PLANS[plan])
    how = kw.pop("how", "inner")
    pred = kw.get("predicate", "intersects")
    cols = [f"a{i}" for i in range(len(_ATTRS[attr]))]
    p2, t2 = pdf, tdf
    for c, (lcol, _, rcol, _) in zip(cols, _ATTRS[attr]):
        p2 = p2.withColumn(c, lcol(F.col("pid")))
        t2 = t2.withColumn(c, rcol(F.col("tid")))
    if attr == "negzero":  # the data really holds a signed zero
        assert any(str(r.a0) == "-0.0" for r in p2.select("a0").collect())

    def match(p, t):
        return all(_sql_eq(lv(p), rv(t)) for _, lv, _, rv in _ATTRS[attr])

    exp = [(int(p), int(t)) for p, t in brute(lb, rb, pred, kw.get("distance"))
           if match(p, t)]
    out = sjoin(p2, t2, how=how, on_attribute=cols, left_id="pid",
                right_id="tid", **kw)
    if how == "right":
        got = [(r.tid, r.index_left)
               for r in out.select("tid", "index_left").collect()]
        exp = [(t, p) for p, t in exp]
        hit = {t for t, _ in exp}
        exp += [(t, None) for t in range(NTRI) if t not in hit]
    else:
        got = [(r.pid, r.index_right)
               for r in out.select("pid", "index_right").collect()]
        if how == "left":
            hit = {p for p, _ in exp}
            exp += [(p, None) for p in range(NPTS) if p not in hit]
    key = lambda r: (r[0], -1 if r[1] is None else r[1])  # noqa: E731
    assert sorted(got, key=key) == sorted(exp, key=key)


def test_salted_join_same_result(data, spark):
    pdf, tdf, lb, rb = data
    out = sjoin(pdf, tdf, left_id="pid", right_id="tid",
                salt_hot_cells=True, hot_cell_threshold=2, salt_factor=4).toPandas()
    got = set(zip(out.pid.astype(int), out.index_right.astype(int)))
    assert got == brute(lb, rb, "intersects")


def test_broadcast_same_result(data, spark):
    pdf, tdf, lb, rb = data
    out = sjoin(pdf, tdf, left_id="pid", right_id="tid",
                broadcast_right=True).toPandas()
    got = set(zip(out.pid.astype(int), out.index_right.astype(int)))
    assert got == brute(lb, rb, "intersects")


def test_validation_errors(data, spark):
    pdf, tdf, *_ = data
    with pytest.raises(ValueError, match="`how`"):
        sjoin(pdf, tdf, how="outer")
    with pytest.raises(ValueError, match="`predicate`"):
        sjoin(pdf, tdf, predicate="nope")
    with pytest.raises(ValueError, match="distance"):
        sjoin(pdf, tdf, predicate="dwithin")
    with pytest.raises(ValueError, match="atomic"):
        sjoin(pdf.withColumn("arr", F.array("pid")),
              tdf.withColumn("arr", F.array("tid")), on_attribute="arr")


def _rect_wkb(x0, y0, x1, y1):
    from geopandas_spark.geom import wkt as W

    return B.to_wkb(W.from_wkt([
        f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"
    ]))[0]


def _giant_side(rng, n_pts, n_small, giant: bool):
    """Points + small squares [+ one giant polygon] + a NULL geometry row
    + an EMPTY polygon row."""
    from geopandas_spark.geom import wkt as W
    from geopandas_spark.geom.ragged import points_batch

    px, py = rng.random(n_pts), rng.random(n_pts)
    out = list(B.to_wkb(points_batch(px, py)))
    for x0, y0 in rng.random((n_small, 2)) * 0.9:
        out.append(_rect_wkb(x0, y0, x0 + 0.03, y0 + 0.03))
    if giant:
        out.append(_rect_wkb(0.02, 0.03, 0.97, 0.98))
    out.append(None)
    out.append(B.to_wkb(W.from_wkt(["POLYGON EMPTY"]))[0])
    return out


def _brute_wkb(lw, rw, pred, dist=None):
    """Brute-force (left index, right index) pairs of two WKB lists."""
    lv = [i for i, w in enumerate(lw) if w is not None]
    rv = [i for i, w in enumerate(rw) if w is not None]
    lb = B.from_wkb(np.repeat(np.array([lw[i] for i in lv], dtype=object),
                              len(rv)))
    rb = B.from_wkb(np.tile(np.array([rw[i] for i in rv], dtype=object),
                            len(lv)))
    truth = pairwise_predicate(pred, lb, rb, dist).reshape(len(lv), len(rv))
    return {(lv[a], rv[b]) for a, b in zip(*np.nonzero(truth))}


@pytest.mark.parametrize("pred", ["intersects", "dwithin"])
@pytest.mark.parametrize("giant", ["left", "right", "both"])
@pytest.mark.parametrize("bcast", [True, False])
def test_mixed_resolution_giant_polygons(spark, bcast, giant, pred):
    """A giant polygon on either side (its bbox spans more than
    max_cells cells at resolution=8) plus NULL and EMPTY geometry rows:
    both plans return exactly the brute-force pair set, one row per
    pair, and so does ``on_attribute`` with giants on both sides."""
    import pandas as pd

    rng = np.random.default_rng(5)
    lw = _giant_side(rng, 200, 8, giant in ("left", "both"))
    rw = _giant_side(rng, 30, 8, giant in ("right", "both"))
    ldf = spark.createDataFrame(
        pd.DataFrame({"lid": np.arange(len(lw)), "geometry": lw}))
    rdf = spark.createDataFrame(
        pd.DataFrame({"rid": np.arange(len(rw)), "geometry": rw}))
    dist = 0.02 if pred == "dwithin" else None
    out = sjoin(ldf, rdf, predicate=pred, distance=dist, left_id="lid",
                right_id="rid", resolution=8, broadcast_right=bcast)
    got = [(r.lid, r.index_right)
           for r in out.select("lid", "index_right").collect()]

    exp = _brute_wkb(lw, rw, pred, dist)
    assert set(got) == exp
    assert len(got) == len(exp)
    giant_ids = {"left": (len(lw) - 3, None), "right": (None, len(rw) - 3),
                 "both": (len(lw) - 3, len(rw) - 3)}[giant]
    # the giant row really joins (many partners), so the coarse / always
    # path is exercised
    if giant_ids[0] is not None:
        assert sum(1 for a, _ in exp if a == giant_ids[0]) > 20
    if giant_ids[1] is not None:
        assert sum(1 for _, b in exp if b == giant_ids[1]) > 100
    if giant == "both" and not bcast:
        # on_attribute (always the cogroup plan) with giants on both
        # sides: a key of id % 3 with NULL keys, which never pair
        def key(i):
            return None if i % 11 == 4 else i % 3

        ldf = spark.createDataFrame([(i, key(i), w) for i, w in enumerate(lw)],
                                    "lid long, k long, geometry binary")
        rdf = spark.createDataFrame([(i, key(i), w) for i, w in enumerate(rw)],
                                    "rid long, k long, geometry binary")
        out = sjoin(ldf, rdf, predicate=pred, distance=dist, left_id="lid",
                    right_id="rid", resolution=8, on_attribute="k")
        got = [(r.lid, r.index_right)
               for r in out.select("lid", "index_right").collect()]
        keyed = {(a, b) for a, b in exp
                 if key(a) is not None and key(a) == key(b)}
        assert set(got) == keyed
        assert len(got) == len(keyed)
        assert sum(1 for a, b in keyed if a == giant_ids[0]) > 5
        assert sum(1 for a, b in keyed if b == giant_ids[1]) > 20


@pytest.mark.parametrize("attr", list(_ATTRS))
def test_on_attribute_giants(spark, attr):
    """on_attribute with a giant on each side: the giant pass compares
    keys the driver collected with streamed ones, and every key type
    (in a session time zone other than UTC) gives the brute-force pair
    set, the giants' pairs included."""
    import pandas as pd

    rng = np.random.default_rng(5)
    lw = _giant_side(rng, 200, 8, True)
    rw = _giant_side(rng, 30, 8, True)
    cols = [f"a{i}" for i in range(len(_ATTRS[attr]))]
    ldf = spark.createDataFrame(
        pd.DataFrame({"lid": np.arange(len(lw)), "geometry": lw}))
    rdf = spark.createDataFrame(
        pd.DataFrame({"rid": np.arange(len(rw)), "geometry": rw}))
    for c, (lcol, _, rcol, _) in zip(cols, _ATTRS[attr]):
        ldf = ldf.withColumn(c, lcol(F.col("lid")))
        rdf = rdf.withColumn(c, rcol(F.col("rid")))
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = [(r.lid, r.index_right) for r in sjoin(
            ldf, rdf, left_id="lid", right_id="rid", resolution=8,
            on_attribute=cols).select("lid", "index_right").collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    exp = {(a, b) for a, b in _brute_wkb(lw, rw, "intersects")
           if all(_sql_eq(lv(a), rv(b)) for _, lv, _, rv in _ATTRS[attr])}
    assert sorted(got) == sorted(exp)
    gl, gr = len(lw) - 3, len(rw) - 3
    assert any(a == gl for a, _ in exp) and any(b == gr for _, b in exp)


def test_cogroup_same_result(data, spark):
    # broadcast_right=False forces the union-cogroup-by-cell pass; with
    # auto ids, pid and tid stay data columns
    pdf, tdf, lb, rb = data
    for kw in ({"left_id": "pid", "right_id": "tid"}, {}):
        out = sjoin(pdf, tdf, broadcast_right=False, **kw).toPandas()
        got = set(zip(out.pid.astype(int), out.tid.astype(int)))
        assert len(out) == len(got)
        assert got == brute(lb, rb, "intersects")


def test_cogroup_salted_same_result(data, spark):
    # hot-cell salting on the cogroup pass: build rows of hot cells are
    # replicated into salt buckets; result set must be unchanged
    pdf, tdf, lb, rb = data
    out = sjoin(pdf, tdf, left_id="pid", right_id="tid",
                broadcast_right=False, salt_hot_cells=True,
                hot_cell_threshold=2, salt_factor=4).toPandas()
    got = set(zip(out.pid.astype(int), out.index_right.astype(int)))
    assert got == brute(lb, rb, "intersects")


def test_cogroup_dwithin_and_left(data, spark):
    pdf, tdf, lb, rb = data
    out = sjoin(pdf, tdf, predicate="dwithin", distance=0.05, how="left",
                left_id="pid", right_id="tid",
                broadcast_right=False).toPandas()
    exp = brute(lb, rb, "dwithin", 0.05)
    matched = {p for p, _ in exp}
    assert len(out) == len(exp) + (NPTS - len(matched))
    got = set(zip(out.loc[out.index_right.notna(), "pid"].astype(int),
                  out.loc[out.index_right.notna(), "index_right"].astype(int)))
    assert got == exp


def test_bucketed_join_no_exchange(data, spark, tmp_path_factory):
    """write_bucketed_cells + sjoin_bucketed: identical pairs to the
    regular sjoin, and the cell equi-join plans WITHOUT a shuffle
    (bucketing satisfies the join distribution — brief: 'bucketing for
    co-located joins')."""
    from geopandas_spark.sources.bucketed import (
        sjoin_bucketed, write_bucketed_cells)

    pdf, tdf = data[0], data[1]
    base = str(tmp_path_factory.mktemp("bkt"))
    write_bucketed_cells(pdf.select("pid", "geometry"), "bkt_pts",
                         base + "/pts", resolution=5, buckets=8)
    write_bucketed_cells(tdf.select("tid", "geometry"), "bkt_tris",
                         base + "/tris", resolution=5, buckets=8)
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = sjoin_bucketed(spark, "bkt_pts", "bkt_tris")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan[:2000]

        got = sorted((r.pid, r.tid)
                     for r in out.select("pid", "tid").collect())
        ref = sjoin(pdf, tdf, how="inner", predicate="intersects",
                    left_id="pid", right_id="tid")
        exp = sorted((r.pid, r.index_right)
                     for r in ref.select("pid", "index_right").collect())
        assert got == exp and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_pts")
        spark.sql("DROP TABLE IF EXISTS bkt_tris")


def test_bucketed_join_empty_side(data, spark, tmp_path_factory):
    """An empty bucketed table joins to an EMPTY result whose schema is
    identical to the live path's (same _right renames, right geometry
    and cell dropped) — callers can union/write it without branching."""
    from geopandas_spark.sources.bucketed import (
        sjoin_bucketed, write_bucketed_cells)

    pdf, tdf = data[0], data[1]
    base = str(tmp_path_factory.mktemp("bkte"))
    write_bucketed_cells(pdf.select("pid", "geometry"), "bkte_pts",
                         base + "/pts", resolution=5, buckets=8)
    write_bucketed_cells(tdf.select("tid", "geometry").limit(0),
                         "bkte_tris", base + "/tris",
                         resolution=5, buckets=8)
    try:
        out = sjoin_bucketed(spark, "bkte_pts", "bkte_tris")
        live = sjoin_bucketed(spark, "bkte_pts", "bkte_pts")
        assert out.count() == 0
        assert out.columns == ["pid", "geometry", "tid"]
        # live self-join path renames shared cols the same way
        assert live.columns == ["pid", "geometry", "pid_right"]
    finally:
        spark.sql("DROP TABLE IF EXISTS bkte_pts")
        spark.sql("DROP TABLE IF EXISTS bkte_tris")


def _mixed_geoms(seed: int, n: int):
    """Seeded random mixed-type WKB list (points / segments / triangles /
    rects) with ~5% missing rows — adversarial input for the fuzz test."""
    import pandas as pd

    from geopandas_spark.geom import wkt as W
    from geopandas_spark.geom.ragged import points_batch

    r = np.random.default_rng(seed)
    kinds = r.integers(0, 4, n)
    out: list = []
    for k in kinds:
        if r.random() < 0.05:
            out.append(None)
            continue
        if k == 0:
            x, y = r.random(2)
            out.append(B.to_wkb(points_batch(np.array([x]), np.array([y])))[0])
        elif k == 1:
            x0, y0 = r.random(2)
            dx, dy = (r.random(2) - 0.5) * 0.3
            out.append(B.to_wkb(W.from_wkt(
                [f"LINESTRING ({x0} {y0}, {x0 + dx} {y0 + dy})"]))[0])
        elif k == 2:
            v = r.random((3, 2)) * 0.25 + r.random((1, 2)) * 0.75
            out.append(B.to_wkb(W.from_wkt(
                ["POLYGON ((%f %f, %f %f, %f %f, %f %f))"
                 % (v[0, 0], v[0, 1], v[1, 0], v[1, 1],
                    v[2, 0], v[2, 1], v[0, 0], v[0, 1])]))[0])
        else:
            x0, y0 = r.random(2) * 0.8
            w, h = r.random(2) * 0.2 + 1e-4
            out.append(B.to_wkb(W.from_wkt(
                ["POLYGON ((%f %f, %f %f, %f %f, %f %f, %f %f))"
                 % (x0, y0, x0 + w, y0, x0 + w, y0 + h, x0, y0 + h, x0, y0)]))[0])
    return out


@pytest.mark.parametrize("seed", [11, 23, 57])
def test_fuzz_mixed_types_vs_brute(seed, spark):
    """Adversarial fuzz: both plan paths (broadcast probe / cogroup) must
    reproduce the brute-force pair set on random mixed-type inputs with
    missing rows (points x segments x triangles x rects)."""
    import pandas as pd

    nl, nr = 70, 50
    lw = _mixed_geoms(seed, nl)
    rw = _mixed_geoms(seed + 1000, nr)
    ldf = spark.createDataFrame(
        pd.DataFrame({"lid": np.arange(nl), "geometry": lw}))
    rdf = spark.createDataFrame(
        pd.DataFrame({"rid": np.arange(nr), "geometry": rw}))

    lv = [i for i, w in enumerate(lw) if w is not None]
    rv = [i for i, w in enumerate(rw) if w is not None]
    lb = B.from_wkb(np.repeat(np.array([lw[i] for i in lv], dtype=object), len(rv)))
    rb = B.from_wkb(np.tile(np.array([rw[i] for i in rv], dtype=object), len(lv)))
    truth = pairwise_predicate("intersects", lb, rb, None)
    truth = truth.reshape(len(lv), len(rv))
    exp = sorted((lv[a], rv[b]) for a, b in zip(*np.nonzero(truth)))

    for bcast in (True, False):
        out = sjoin(ldf, rdf, how="inner", predicate="intersects",
                    left_id="lid", right_id="rid", broadcast_right=bcast)
        got = sorted((r.lid, r.index_right)
                     for r in out.select("lid", "index_right").collect())
        assert got == exp, (seed, bcast, len(got), len(exp))


def test_sjoin_overlaps_cross_strips(spark):
    """predicate='overlaps' through the full sjoin plan on long thin
    strips — the geometry family where two rectangles overlap in a
    cross with NO vertex of either inside the other (round-5 kernel
    fix); byte-equal to the brute-force kernel."""
    import numpy as np
    import pandas as pd

    from geopandas_spark.functions.st import st_geomfromtext
    from geopandas_spark.geom import wkt as W
    from geopandas_spark.geom.predicates import pairwise_predicate
    from geopandas_spark.operators.sjoin import sjoin

    rng = np.random.RandomState(77)

    def rect(i):
        x, y = rng.uniform(0, 60, 2)
        if i % 3 == 0:
            w, h = rng.uniform(5, 25), rng.uniform(0.5, 2)
        elif i % 3 == 1:
            w, h = rng.uniform(0.5, 2), rng.uniform(5, 25)
        else:
            w, h = rng.uniform(1, 8), rng.uniform(1, 8)
        return (f"POLYGON (({x} {y}, {x + w} {y}, {x + w} {y + h}, "
                f"{x} {y + h}, {x} {y}))")

    L = [rect(i) for i in range(60)]
    R = [rect(i + 500) for i in range(60)]
    ldf = spark.createDataFrame(pd.DataFrame({"lid": range(60), "wkt": L})) \
        .select("lid", st_geomfromtext("wkt").alias("geometry"))
    rdf = spark.createDataFrame(pd.DataFrame({"rid": range(60), "wkt": R})) \
        .select("rid", st_geomfromtext("wkt").alias("geometry"))
    got = {(r.lid, r.rid) for r in sjoin(
        ldf, rdf, how="inner", predicate="overlaps",
        left_id="lid", right_id="rid").select("lid", "rid").collect()}
    rb = W.from_wkt(pd.Series(R))
    want = set()
    for i in range(60):
        li = W.from_wkt(pd.Series([L[i]] * 60))
        for j in np.nonzero(pairwise_predicate("overlaps", li, rb))[0]:
            want.add((i, int(j)))
    assert got == want and len(want) > 10
