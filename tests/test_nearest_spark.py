"""sjoin_nearest vs brute-force kNN oracle (tie semantics per
tools/sjoin.py:428-439: all equidistant neighbors returned)."""

import numpy as np
import pandas as pd
import pytest

from geopandas_spark.geom import wkb as B
from geopandas_spark.geom.ragged import points_batch
from geopandas_spark.operators.nearest import sjoin_nearest

NL, NR = 300, 50


@pytest.fixture(scope="module")
def data(spark):
    r = np.random.default_rng(7)
    lx, ly = r.random(NL), r.random(NL)
    rx, ry = r.random(NR), r.random(NR)
    ldf = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(NL), "geometry": list(B.to_wkb(points_batch(lx, ly)))}))
    rdf = spark.createDataFrame(pd.DataFrame(
        {"tid": np.arange(NR), "geometry": list(B.to_wkb(points_batch(rx, ry)))}))
    d = np.sqrt((lx[:, None] - rx[None, :]) ** 2 + (ly[:, None] - ry[None, :]) ** 2)
    return ldf, rdf, d


def test_nearest_exact(data, spark):
    ldf, rdf, d = data
    dmin = d.min(axis=1)
    exp = {(i, j) for i in range(NL) for j in np.nonzero(d[i] == dmin[i])[0]}
    out = sjoin_nearest(ldf, rdf, distance_col="dist",
                        left_id="pid", right_id="tid").toPandas()
    got = set(zip(out.pid.astype(int), out.index_right.astype(int)))
    assert got == exp
    m = out.set_index("pid").dist.to_dict()
    assert all(m[i] == dmin[i] for i in range(NL))


def test_nearest_ties(spark):
    # two right points exactly equidistant from the left point
    ldf = spark.createDataFrame(pd.DataFrame(
        {"pid": [0], "geometry": list(B.to_wkb(points_batch(
            np.array([0.5]), np.array([0.5]))))}))
    rdf = spark.createDataFrame(pd.DataFrame(
        {"tid": [0, 1, 2], "geometry": list(B.to_wkb(points_batch(
            np.array([0.4, 0.6, 0.9]), np.array([0.5, 0.5, 0.9]))))}))
    out = sjoin_nearest(ldf, rdf, left_id="pid", right_id="tid").toPandas()
    assert set(out.index_right.astype(int)) == {0, 1}  # both ties kept


def test_nearest_max_distance(data, spark):
    ldf, rdf, d = data
    dmin = d.min(axis=1)
    exp = {(i, j) for i in range(NL) if dmin[i] <= 0.05
           for j in np.nonzero(d[i] == dmin[i])[0]}
    out = sjoin_nearest(ldf, rdf, max_distance=0.05,
                        left_id="pid", right_id="tid").toPandas()
    got = set(zip(out.pid.astype(int), out.index_right.astype(int)))
    assert got == exp
    # how='left' pads the unmatched
    outl = sjoin_nearest(ldf, rdf, how="left", max_distance=0.05,
                         left_id="pid", right_id="tid").toPandas()
    assert len(outl) == len(exp) + NL - len({i for i, _ in exp})


def test_nearest_exclusive_self(spark):
    pts = points_batch(np.array([0.1, 0.5, 0.9]), np.array([0.1, 0.5, 0.9]))
    wkb = list(B.to_wkb(pts))
    df = spark.createDataFrame(pd.DataFrame({"pid": [0, 1, 2], "geometry": wkb}))
    df2 = spark.createDataFrame(pd.DataFrame({"tid": [0, 1, 2], "geometry": wkb}))
    out = sjoin_nearest(df, df2, exclusive=True,
                        left_id="pid", right_id="tid").toPandas()
    assert (out.pid != out.index_right).all()
    out2 = sjoin_nearest(df, df2, exclusive=False,
                         left_id="pid", right_id="tid").toPandas()
    assert (out2.pid == out2.index_right).all()


@pytest.mark.parametrize("bcast", [True, False])
def test_nearest_exclusive_duplicates_and_null(spark, bcast):
    """exclusive=True drops every right row whose WKB equals the left
    row's, duplicates included; NULL rows never match. Brute force on
    both plans (the shuffle plan's phase 1 and its tail both compare)."""
    r = np.random.default_rng(19)
    rx, ry = r.random(40) * 0.5, r.random(40) * 0.5
    rx, ry = np.r_[rx, rx[:5]], np.r_[ry, ry[:5]]  # 5 duplicate rows
    lx, ly = np.r_[r.random(60), rx[:10]], np.r_[r.random(60), ry[:10]]
    rw = list(B.to_wkb(points_batch(rx, ry))) + [None]
    lw = list(B.to_wkb(points_batch(lx, ly))) + [None]
    ldf = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(len(lw)), "geometry": lw}))
    rdf = spark.createDataFrame(pd.DataFrame(
        {"tid": np.arange(len(rw)), "geometry": rw}))

    d = np.sqrt((lx[:, None] - rx[None, :]) ** 2
                + (ly[:, None] - ry[None, :]) ** 2)
    same = np.array([[a == b for b in rw[:-1]] for a in lw[:-1]])
    d[same] = np.inf
    dmin = d.min(axis=1)
    exp = {(i, int(j), dmin[i]) for i in range(len(lx))
           for j in np.nonzero(d[i] == dmin[i])[0]}
    assert same.sum() == 15  # 10 self matches + 5 duplicates

    out = sjoin_nearest(ldf, rdf, exclusive=True, distance_col="dist",
                        left_id="pid", right_id="tid",
                        broadcast_right=bcast).toPandas()
    got = set(zip(out.pid.astype(int), out.index_right.astype(int),
                  out.dist))
    assert got == exp


def test_nearest_lines_empty_corner_cells(spark):
    """ADVICE scenario: right-side diagonal lines cover bbox-corner cells
    that contain no geometry; the tail's distance bound must stay a valid
    upper bound (d* re-probe). Brute-force point-to-segment oracle."""
    from geopandas_spark.geom import wkt as W

    r = np.random.default_rng(11)
    nl, nr = 200, 30
    lx, ly = r.random(nl), r.random(nl)
    # long diagonals: bbox is large, geometry only on the diagonal
    x0, y0 = r.random(nr), r.random(nr)
    dx, dy = r.random(nr) * 0.4 + 0.1, r.random(nr) * 0.4 + 0.1
    wkts = [f"LINESTRING ({a} {b}, {min(a + c, 1.0)} {min(b + d, 1.0)})"
            for a, b, c, d in zip(x0, y0, dx, dy)]
    ldf = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(nl),
         "geometry": list(B.to_wkb(points_batch(lx, ly)))}))
    rdf = spark.createDataFrame(pd.DataFrame(
        {"tid": np.arange(nr), "geometry": list(B.to_wkb(W.from_wkt(wkts)))}))

    # brute force point->segment distances
    ax, ay = x0, y0
    bx, by = np.minimum(x0 + dx, 1.0), np.minimum(y0 + dy, 1.0)
    vx, vy = bx - ax, by - ay
    L2 = vx * vx + vy * vy
    t = ((lx[:, None] - ax[None, :]) * vx[None, :]
         + (ly[:, None] - ay[None, :]) * vy[None, :]) / L2[None, :]
    t = np.clip(t, 0.0, 1.0)
    cx = ax[None, :] + t * vx[None, :]
    cy = ay[None, :] + t * vy[None, :]
    d = np.sqrt((lx[:, None] - cx) ** 2 + (ly[:, None] - cy) ** 2)
    dmin = d.min(axis=1)
    exp = {(i, j) for i in range(nl) for j in np.nonzero(d[i] == dmin[i])[0]}

    out = sjoin_nearest(ldf, rdf, distance_col="dist",
                        left_id="pid", right_id="tid").toPandas()
    got = set(zip(out.pid.astype(int), out.index_right.astype(int)))
    assert got == exp
    m = out.set_index("pid").dist.to_dict()
    assert all(abs(m[i] - dmin[i]) < 1e-12 for i in range(nl))


def test_broadcast_vs_shuffle_parity(spark):
    """The broadcast kNN kernel (round 4) and the union-shuffle plan are
    two physical strategies for the same operator — results must be
    identical pair-for-pair, including ties, max_distance cut-offs,
    sparse-neighborhood escalation, and non-puntal geometries."""
    from pyspark.sql import functions as F

    from geopandas_spark.functions.st import st_geomfromtext, st_point

    M32, HA, HB = 4294967296, 2654435761, 2246822519
    pts = (spark.range(4000).withColumnRenamed("id", "pid")
           .withColumn("x", (F.col("pid") + 1) * HA % M32 / float(M32))
           .withColumn("y", (F.col("pid") + 1) * HB % M32 / float(M32))
           .withColumn("geometry", st_point("x", "y"))
           .select("pid", "geometry"))
    # right side confined to one quadrant -> 3/4 of probes escalate
    ctr = (spark.range(200).withColumnRenamed("id", "rid")
           .withColumn("x", (F.col("rid") + 1) * HB % M32 / float(M32) * 0.5)
           .withColumn("y", (F.col("rid") + 1) * HA % M32 / float(M32) * 0.5)
           .withColumn("geometry", st_point("x", "y"))
           .select("rid", "geometry"))
    lines = (
        spark.range(150).withColumnRenamed("id", "rid")
        .withColumn("x", (F.col("rid") + 1) * HB % M32 / float(M32) * 0.4)
        .withColumn("y", (F.col("rid") + 1) * HA % M32 / float(M32) * 0.4)
        .withColumn("geometry", st_geomfromtext(F.concat(
            F.lit("LINESTRING ("), F.col("x"), F.lit(" "), F.col("y"),
            F.lit(", "), F.col("x") + 0.03, F.lit(" "), F.col("y") + 0.02,
            F.lit(")"))))
        .select("rid", "geometry"))

    def both(right, **kw):
        out = []
        for bcast in (True, False):
            j = sjoin_nearest(pts, right, distance_col="d", left_id="pid",
                              right_id="rid", broadcast_right=bcast, **kw)
            out.append(sorted(map(tuple, j.select(
                "pid", "rid", F.round("d", 12)).collect())))
        return out

    for kw in ({}, {"max_distance": 0.02}, {"how": "left"}):
        a, b = both(ctr, **kw)
        assert a == b and len(a) >= 4000 * (0 if kw.get("max_distance") else 1)
    a, b = both(lines)
    assert a == b and len(a) == 4000


def test_giant_right_geometry(spark):
    """A build row whose bbox cover overflows max_cells at the working
    resolution must still be findable: the broadcast path carries it as
    an always-candidate, the shuffle path clamps the grid to the largest
    bbox's full-res cover. Brute-force oracle over the engine's own
    pairwise kernel isolates the candidate-set logic."""
    from pyspark.sql import functions as F

    from geopandas_spark.functions.st import st_point
    from geopandas_spark.geom import wkt as W
    from geopandas_spark.geom.predicates import pairwise_distance
    from geopandas_spark.geom.wkb import from_wkb

    r = np.random.default_rng(23)
    nl, nr = 400, 25
    lx, ly = r.random(nl), r.random(nl)
    # 24 tiny rects + one giant one spanning half the domain
    x0, y0 = r.random(nr - 1) * 0.9, r.random(nr - 1) * 0.9
    wkts = [f"POLYGON (({a} {b}, {a + 0.01} {b}, {a + 0.01} {b + 0.01}, "
            f"{a} {b + 0.01}, {a} {b}))" for a, b in zip(x0, y0)]
    wkts.append("POLYGON ((0.2 0.2, 0.85 0.2, 0.85 0.85, 0.2 0.85, 0.2 0.2))")
    rb = W.from_wkt(wkts)
    lb = from_wkb(pd.Series(list(B.to_wkb(points_batch(lx, ly)))))
    li = np.repeat(np.arange(nl), nr)
    ri = np.tile(np.arange(nr), nl)
    d = pairwise_distance(lb.take(li), rb.take(ri)).reshape(nl, nr)
    dmin = d.min(axis=1)
    exp = {(i, j) for i in range(nl) for j in np.nonzero(d[i] == dmin[i])[0]}

    ldf = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(nl),
         "geometry": list(B.to_wkb(points_batch(lx, ly)))}))
    rdf = spark.createDataFrame(pd.DataFrame(
        {"tid": np.arange(nr), "geometry": list(B.to_wkb(rb))}))
    for bcast in (True, False):
        out = sjoin_nearest(ldf, rdf, left_id="pid", right_id="tid",
                            resolution=10, broadcast_right=bcast).toPandas()
        got = set(zip(out.pid.astype(int), out.index_right.astype(int)))
        assert got == exp, f"broadcast={bcast}"


def test_nearest_how_right(data, spark):
    """how='right' (tools/sjoin.py:365 + the Uptown docstring example):
    each RIGHT row finds its nearest LEFT rows (ties kept), all right
    rows retained, index_left carries the matched left keys."""
    ldf, rdf, d = data
    dmin_r = d.min(axis=0)
    exp = {(int(i), j) for j in range(NR)
           for i in np.nonzero(d[:, j] == dmin_r[j])[0]}
    out = sjoin_nearest(ldf, rdf, how="right", distance_col="dist",
                        left_id="pid", right_id="tid").toPandas()
    got = set(zip(out.index_left.astype(int), out.tid.astype(int)))
    assert got == exp
    m = out.set_index("tid").dist.to_dict()
    assert all(m[j] == dmin_r[j] for j in range(NR))
    # right data leads, matching the engine's sjoin right-join order
    assert list(out.columns)[0] == "tid"
    # max_distance keeps unmatched RIGHT rows padded
    out2 = sjoin_nearest(ldf, rdf, how="right", max_distance=1e-9,
                         distance_col="dist",
                         left_id="pid", right_id="tid").toPandas()
    assert len(out2) == NR and out2.index_left.isna().all()


def test_index_column_guard(data, spark):
    """Reference _basic_checks (tools/sjoin.py:123-127): pre-existing
    index_{suffix} columns must raise, not emit duplicate columns."""
    from pyspark.sql import functions as F

    from geopandas_spark.operators.sjoin import sjoin

    ldf, rdf, _ = data
    bad_l = ldf.withColumn("index_left", F.col("pid"))
    bad_r = rdf.withColumn("index_right", F.col("tid"))
    for op, kw in ((sjoin_nearest, {}), (sjoin_nearest, {"how": "right"}),
                   (sjoin, {})):
        with pytest.raises(ValueError, match="index_left"):
            op(bad_l, rdf, left_id="pid", right_id="tid", **kw)
        with pytest.raises(ValueError, match="index_right"):
            op(ldf, bad_r, left_id="pid", right_id="tid", **kw)


def test_lineal_build_with_null_and_empty_rows(spark):
    """A stray null/empty geometry in a lineal build must neither break
    the segment-soup path nor change results (zero segments -> inf,
    matching the general kernel's nan -> inf)."""
    import pandas as pd

    from geopandas_spark.geom import wkt as W

    ldf = spark.createDataFrame(pd.DataFrame(
        {"pid": [0, 1], "geometry": list(B.to_wkb(points_batch(
            np.array([0.1, 0.9]), np.array([0.1, 0.9]))))}))
    rw = list(B.to_wkb(W.from_wkt(
        ["LINESTRING (0 0, 0.2 0.2)", "LINESTRING EMPTY",
         "LINESTRING (0.8 0.8, 1 1)"])))
    rdf = spark.createDataFrame(pd.DataFrame(
        {"tid": [0, 1, 2], "geometry": [rw[0], None, rw[2]]}))
    rdf2 = spark.createDataFrame(pd.DataFrame(
        {"tid": [0, 1, 2], "geometry": rw}))
    for right in (rdf, rdf2):
        for bc in (True, False):
            out = sjoin_nearest(ldf, right, distance_col="d",
                                left_id="pid", right_id="tid",
                                broadcast_right=bc).toPandas()
            got = dict(zip(out.pid.astype(int),
                           out.index_right.astype(int)))
            assert got == {0: 0, 1: 2}
            assert (out.d == 0.0).all()


def test_nearest_nonsquare_adversarial_bound(spark):
    """Deterministic construction where sqrt(2)*min_cell under-bounding
    returns the WRONG neighbor on non-square cells: right A sits few
    cells away along the wide axis (small index distance, large
    Euclidean distance), right B many cells away along the narrow axis
    (large index distance, SMALL Euclidean distance). The diagonal
    bound probes far enough to see B; the old min-cell bound stopped
    short and returned A."""
    domain = (0.0, 0.0, 8.0, 1.0)
    res = 4                       # 16x16 cells: w = 0.5 = 8h, h = 1/16
    lx, ly = np.array([0.03]), np.array([0.03])
    rx = np.array([3.28, 0.03])   # A: cell (6,0); B: cell (0,12)
    ry = np.array([0.03, 0.78])
    d = np.sqrt((lx[0] - rx) ** 2 + (ly[0] - ry) ** 2)
    assert d[1] < d[0]            # B is the true nearest
    ldf = spark.createDataFrame(pd.DataFrame(
        {"pid": [0], "geometry": list(B.to_wkb(points_batch(lx, ly)))}))
    rdf = spark.createDataFrame(pd.DataFrame(
        {"tid": [0, 1], "geometry": list(B.to_wkb(points_batch(rx, ry)))}))
    for bcast in (False, True):
        out = sjoin_nearest(ldf, rdf, left_id="pid", right_id="tid",
                            resolution=res, domain=domain,
                            distance_col="dist",
                            broadcast_right=bcast).toPandas()
        assert list(out.index_right.astype(int)) == [1], bcast
        assert out.dist.iloc[0] == d[1]


def test_nearest_nonsquare_domain_sparse(spark):
    """Non-square grid cells (wide domain): the no-candidate probe bound
    must use the cell DIAGONAL, not sqrt(2)*min(w,h) — with sparse
    right sides the under-bound could return a farther neighbor
    (round-4 review finding). Brute-force parity over both plan paths
    and several resolutions, including lefts far from every right."""
    r = np.random.default_rng(11)
    domain = (0.0, 0.0, 8.0, 1.0)  # cells 8x wider than tall
    nl, nr = 120, 6
    lx = r.random(nl) * 8.0
    ly = r.random(nl)
    # sparse rights clustered in one corner -> most lefts have NO
    # phase-1 candidate and ride the distance-transform bound
    rx = r.random(nr) * 0.5
    ry = r.random(nr) * 0.5
    ldf = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(nl),
         "geometry": list(B.to_wkb(points_batch(lx, ly)))}))
    rdf = spark.createDataFrame(pd.DataFrame(
        {"tid": np.arange(nr),
         "geometry": list(B.to_wkb(points_batch(rx, ry)))}))
    d = np.sqrt((lx[:, None] - rx[None, :]) ** 2
                + (ly[:, None] - ry[None, :]) ** 2)
    dmin = d.min(axis=1)
    exp = {(i, j) for i in range(nl)
           for j in np.nonzero(d[i] == dmin[i])[0]}
    for res in (2, 4):
        for bcast in (False, True):
            out = sjoin_nearest(ldf, rdf, left_id="pid", right_id="tid",
                                resolution=res, domain=domain,
                                distance_col="dist",
                                broadcast_right=bcast).toPandas()
            got = set(zip(out.pid.astype(int),
                          out.index_right.astype(int)))
            assert got == exp, (res, bcast)
            m = out.set_index("pid").dist.to_dict()
            assert all(m[i] == dmin[i] for i in range(nl)), (res, bcast)
