"""The broadcast build side is collected once and every driver decision
comes from that collect.

* decision parity: the numpy stats and WKB header set of the collected
  build equal the SQL aggregates they replace (an avg/max agg over
  ``__bb`` and sjoin_nearest's ``collect_set`` header sniff), and give
  the same plan and resolution;
* a build over the row cap falls back to the stats job + shuffle pass
  and still returns the brute-force pairs;
* the eager (construct-phase) Spark job budget of sjoin, sjoin_nearest
  and overlay on single-file parquet inputs;
* the construct phase evaluates the build's geometry once per row (the
  bboxes are decoded from the collected WKB, equal to ``st_bounds``),
  and widens the build only for a pass that reads it.
"""

import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geopandas_spark.geom import wkb as B
from geopandas_spark.geom import wkt as W
from geopandas_spark.geom.clipping import pairwise_intersection
from geopandas_spark.geom.predicates import pairwise_predicate
from geopandas_spark.geom.ragged import points_batch
from geopandas_spark.index.cells import DOMAIN_UNIT
from geopandas_spark.operators import _buildindex
from geopandas_spark.operators import _planner as P
from geopandas_spark.operators import sjoin as S
from geopandas_spark.operators.nearest import sjoin_nearest
from geopandas_spark.operators.overlay import overlay


def _wkt(rows):
    return [None if r is None else B.to_wkb(W.from_wkt([r]))[0] for r in rows]


def _be_point(x, y):
    return b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", x, y)


def _ewkb_point(x, y, srid=4326):
    return (b"\x01" + struct.pack("<I", 1 | 0x20000000)
            + struct.pack("<I", srid) + struct.pack("<dd", x, y))


def _build_rows(kind, seed):
    r = np.random.default_rng(seed)
    rows = [None, None]
    if kind == "lineal":
        rows += _wkt(["LINESTRING EMPTY"])
        for _ in range(30):
            x, y = r.random(2) * 0.9
            dx, dy = r.random(2) * 0.1
            rows += _wkt([f"LINESTRING ({x} {y}, {x + dx} {y + dy})"])
        rows += _wkt(["MULTILINESTRING ((0.1 0.1, 0.2 0.3), (0.5 0.5, 0.6 0.55))"])
        return rows
    if kind == "puntal":
        rows += list(B.to_wkb(points_batch(r.random(40), r.random(40))))
        rows += [_be_point(0.25, 0.75), _ewkb_point(0.5, 0.125)]
        return rows
    # mixed: points, lines, polygons, empties, big-endian and EWKB rows
    rows += _wkt(["POINT EMPTY", "LINESTRING EMPTY", "POLYGON EMPTY"])
    rows += list(B.to_wkb(points_batch(r.random(20), r.random(20))))
    for _ in range(20):
        x, y = r.random(2) * 0.8
        w, h = r.random(2) * 0.2 + 1e-3
        rows += _wkt([f"POLYGON (({x} {y}, {x + w} {y}, {x + w} {y + h}, "
                      f"{x} {y + h}, {x} {y}))",
                      f"LINESTRING ({x} {y}, {x + w} {y + h})"])
    rows += [_be_point(0.25, 0.75), _ewkb_point(0.5, 0.125)]
    return rows


def _sql_stats(prepped):
    """Reference stats of a ``_prep_side`` frame: Spark SQL's avg/max over
    its ``__bb`` struct (NULL fields skipped) and the row count."""
    ext = {"w": F.col("__bb.maxx") - F.col("__bb.minx"),
           "h": F.col("__bb.maxy") - F.col("__bb.miny")}
    r = prepped.agg(*[f(ext[k]).alias(p + k) for k in ("w", "h")
                      for p, f in (("a", F.avg), ("m", F.max))],
                    F.count(F.lit(1)).alias("n")).collect()[0]
    return {k: (r[k] or 0) for k in ("aw", "ah", "mw", "mh", "n")}


def _frame(spark, rows, id_name="rid"):
    return spark.createDataFrame(pd.DataFrame(
        {id_name: np.arange(len(rows)), "geometry": rows}))


@pytest.mark.parametrize("kind", ["mixed", "lineal", "puntal"])
def test_build_stats_match_sql(spark, kind):
    """numpy stats and headers of the collected build == the SQL aggs
    they replace, and both give the same plan and resolution."""
    probe = _frame(spark, list(B.to_wkb(points_batch(
        np.linspace(0.01, 0.99, 50), np.linspace(0.99, 0.01, 50)))), "lid")
    build = _frame(spark, _build_rows(kind, seed=len(kind)))
    lp, _ = S._prep_side(probe, "geometry", "lid", "l")
    rp, rid = S._prep_side(build, "geometry", "rid", "r", widen=False)

    table = _buildindex.collect_build(rp, rid, "geometry")
    got = table.stats()
    sql = [_sql_stats(lp), _sql_stats(rp)]
    assert got["n"] == sql[1]["n"] == build.count()
    for k in ("aw", "ah", "mw", "mh"):
        assert got[k] == pytest.approx(sql[1][k], rel=1e-12, abs=1e-15), k
    assert P._side_stats(probe, "geometry") == pytest.approx(sql[0], rel=1e-12)
    # the shuffle plans' stats (both sides, prepped frames) agree too
    for a, b in zip([P._side_stats(f, "geometry") for f in (lp, rp)], sql):
        assert a == pytest.approx(b, rel=1e-12, abs=1e-15)

    sniff = rp.agg(F.collect_set(
        F.hex(F.substring(F.col("geometry"), 1, 5))).alias("tp")).collect()[0]
    assert sorted(table.headers()) == sorted(sniff["tp"])
    assert (P._all_lineal_headers(table.headers())
            == P._all_lineal_headers(list(sniff["tp"]))
            == (kind == "lineal"))

    # same sjoin/overlay plan and resolution from either source
    res_np = P._estimate_resolution([sql[0], got], DOMAIN_UNIT)
    assert res_np == P._estimate_resolution(sql, DOMAIN_UNIT)
    for res in (res_np, 3, 9):
        assert ((P._est_exploded(got, res, DOMAIN_UNIT)
                 <= P.BROADCAST_EXPLODED_ROWS)
                == (P._est_exploded(sql[1], res, DOMAIN_UNIT)
                    <= P.BROADCAST_EXPLODED_ROWS))
        assert (P._min_cover_res(got, res, DOMAIN_UNIT)
                == P._min_cover_res(sql[1], res, DOMAIN_UNIT))
    # same kNN puntal flag
    assert ((got["mw"] == 0.0 and got["mh"] == 0.0)
            == (sql[1]["mw"] == 0.0 and sql[1]["mh"] == 0.0)
            == (kind == "puntal"))


@pytest.mark.parametrize("kind", ["mixed", "lineal", "puntal"])
def test_build_bboxes_match_st_bounds(spark, kind):
    """The collected build's bboxes equal Spark's ``st_bounds`` of the
    same rows, row for row (NULL, EMPTY, big-endian and EWKB rows
    included): NaN wherever Spark gives NULL."""
    from geopandas_spark.functions.st import st_bounds

    build = _frame(spark, _build_rows(kind, seed=len(kind)))
    rp, rid = S._prep_side(build, "geometry", "rid", "r", widen=False)
    table = _buildindex.collect_build(rp, rid, "geometry")
    got = table.bb[np.argsort(table.tbl["i"].to_numpy())]

    rows = build.select("rid", st_bounds("geometry").alias("b")) \
        .orderBy("rid").collect()
    want = np.array([[np.nan if r.b is None or r.b[c] is None else r.b[c]
                      for c in ("minx", "miny", "maxx", "maxy")]
                     for r in rows], dtype=np.float64)
    assert got.shape == want.shape == (build.count(), 4)
    assert np.isnan(want).any()  # the NULL / EMPTY rows are in the test
    np.testing.assert_array_equal(got, want)


def test_row_cap_derived_from_exploded_bound():
    # every row counts >= 1.5 x 1.5 cells in _est_exploded
    cap = P.BROADCAST_MAX_ROWS
    assert cap * 2.25 <= P.BROADCAST_EXPLODED_ROWS < (cap + 1) * 2.25
    fits = dict(n=cap, aw=0.0, ah=0.0, mw=0.0, mh=0.0)
    assert P._est_exploded(fits, 12, DOMAIN_UNIT) <= P.BROADCAST_EXPLODED_ROWS
    over = dict(fits, n=cap + 1)
    assert P._est_exploded(over, 12, DOMAIN_UNIT) > P.BROADCAST_EXPLODED_ROWS


def test_collect_build_bounded(spark):
    df = _frame(spark, list(B.to_wkb(points_batch(np.zeros(12), np.ones(12)))))
    rp, rid = S._prep_side(df, "geometry", "rid", "r", widen=False)
    assert _buildindex.collect_build(rp, rid, "geometry", limit=11) is None
    assert _buildindex.collect_build(rp, rid, "geometry", limit=12).n == 12
    assert _buildindex.collect_build(rp, rid, "geometry").n == 12


def _rects(r, n, w=0.08):
    out = []
    for _ in range(n):
        x, y = r.random(2) * (1 - w)
        a, b = r.random(2) * w + 1e-3
        out.append(f"POLYGON (({x} {y}, {x + a} {y}, {x + a} {y + b}, "
                   f"{x} {y + b}, {x} {y}))")
    return _wkt(out)


def test_row_cap_fallback_matches_brute(spark, monkeypatch, count_builds):
    """Builds over the row cap take the stats job + shuffle pass (no
    BuildIndex) and still return the brute-force pairs. A build whose
    plan is over the collect-first size bound is sized before it is
    collected: it still broadcasts when it fits, and is never collected
    when it does not."""
    r = np.random.default_rng(5)
    px, py = r.random(120), r.random(120)
    pw = list(B.to_wkb(points_batch(px, py))) + [None]
    rw = _rects(r, 30) + [None]
    cx, cy = r.random(30), r.random(30)
    cw = list(B.to_wkb(points_batch(cx, cy)))
    pts, rects, centers = (_frame(spark, pw, "lid"), _frame(spark, rw),
                           _frame(spark, cw))

    lv = np.arange(len(pw) - 1)
    rv = np.arange(len(rw) - 1)
    hit = pairwise_predicate(
        "intersects", B.from_wkb(np.repeat(np.array(pw[:-1], dtype=object), len(rv))),
        B.from_wkb(np.tile(np.array(rw[:-1], dtype=object), len(lv))), None)
    exp_sjoin = {(int(a), int(b)) for a, b in
                 zip(np.repeat(lv, len(rv))[hit], np.tile(rv, len(lv))[hit])}
    d = np.sqrt((px[:, None] - cx[None, :]) ** 2 + (py[:, None] - cy[None, :]) ** 2)
    exp_knn = {(i, int(j)) for i in range(len(px))
               for j in np.nonzero(d[i] == d[i].min())[0]}
    a = _frame(spark, _rects(r, 25, 0.3), "i1")
    b = _frame(spark, _rects(r, 25, 0.3), "i2")
    aw = a.orderBy("i1").select("geometry").toPandas()["geometry"].to_numpy()
    bw = b.orderBy("i2").select("geometry").toPandas()["geometry"].to_numpy()
    inter = pairwise_intersection(B.from_wkb(np.repeat(aw, len(bw))),
                                  B.from_wkb(np.tile(bw, len(aw))))
    nz = inter.n_coords_per_geom() > 0
    exp_ov = {(int(i), int(j)) for i, j in zip(
        np.repeat(np.arange(len(aw)), len(bw))[nz],
        np.tile(np.arange(len(bw)), len(aw))[nz])}

    def run():
        sj = sjoin(pts, rects, left_id="lid", right_id="rid")
        kn = sjoin_nearest(pts, centers, left_id="lid", right_id="rid")
        ov = overlay(a, b, id1="i1", id2="i2", make_valid=False)
        return ({(x.lid, x.index_right) for x in sj.collect()},
                {(x.lid, x.index_right) for x in kn.collect()},
                {(x.i1, x.i2) for x in ov.select("i1", "i2").collect()})

    from geopandas_spark.operators.sjoin import sjoin

    assert run() == (exp_sjoin, exp_knn, exp_ov)
    assert len(count_builds) == 3  # control: all three broadcast
    monkeypatch.setattr(P, "BROADCAST_MAX_ROWS", 10)
    monkeypatch.setattr(P, "_collect_first", lambda df: True)
    assert run() == (exp_sjoin, exp_knn, exp_ov)
    assert len(count_builds) == 3  # capped: all three fell back

    # large plans: stats first, then one unbounded collect if it fits
    collects = []

    def spy_collect(df, id_col, geom_col, limit=None):
        collects.append(limit)
        return orig_collect(df, id_col, geom_col, limit)

    orig_collect = P.collect_build
    monkeypatch.setattr(P, "collect_build", spy_collect)
    monkeypatch.setattr(P, "_collect_first", lambda df: False)
    assert run() == (exp_sjoin, exp_knn, exp_ov)
    assert len(count_builds) == 6 and collects == [None] * 3
    monkeypatch.setattr(P, "BROADCAST_EXPLODED_ROWS", 1)
    collects.clear()
    assert run() == (exp_sjoin, exp_knn, exp_ov)
    assert len(count_builds) == 6 and collects == []


def _single_file(tmp_path, name, pdf):
    path = str(tmp_path / f"{name}.parquet")
    pdf.to_parquet(path, index=False)
    return path


def test_eager_job_budget(spark, tmp_path, monkeypatch):
    """Spark jobs an operator runs before it returns its DataFrame, on
    single-file parquet inputs (one partition each): sjoin with a pinned
    resolution and sjoin_nearest run only the build collect; overlay
    with auto resolution adds one global probe agg. No shuffle-plan
    sizing (``_min_cover_res``) runs on the broadcast path."""
    from geopandas_spark.operators.sjoin import sjoin

    r = np.random.default_rng(3)
    n = 400
    px, py = r.random(n), r.random(n)
    pts = _single_file(tmp_path, "pts", pd.DataFrame(
        {"c_custkey": np.arange(n),
         "geometry": list(B.to_wkb(points_batch(px, py)))}))
    rects = _single_file(tmp_path, "rects", pd.DataFrame(
        {"p_partkey": np.arange(60), "geometry": _rects(r, 60)}))
    centers = _single_file(tmp_path, "centers", pd.DataFrame(
        {"p_partkey": np.arange(60),
         "geometry": list(B.to_wkb(points_batch(r.random(60), r.random(60))))}))
    sa = _single_file(tmp_path, "sa", pd.DataFrame(
        {"p_partkey": np.arange(50), "geometry": _rects(r, 50, 0.2)}))
    sb = _single_file(tmp_path, "sb", pd.DataFrame(
        {"q_partkey": np.arange(50), "geometry": _rects(r, 50, 0.2)}))
    read = spark.read.parquet
    frames = {k: read(p) for k, p in dict(pts=pts, rects=rects,
                                          centers=centers, sa=sa, sb=sb).items()}

    def boom(*a, **k):
        raise AssertionError("shuffle-plan sizing on the broadcast path")

    monkeypatch.setattr(P, "_min_cover_res", boom)
    sc = spark.sparkContext
    calls = {
        "sjoin": lambda: sjoin(frames["pts"], frames["rects"],
                               left_id="c_custkey", right_id="p_partkey",
                               resolution=6),
        "sjoin_nearest": lambda: sjoin_nearest(
            frames["pts"], frames["centers"], distance_col="dist",
            left_id="c_custkey", right_id="p_partkey"),
        "overlay": lambda: overlay(frames["sa"], frames["sb"],
                                   id1="p_partkey", id2="q_partkey",
                                   make_valid=False),
    }
    budget = {"sjoin": 1, "sjoin_nearest": 1, "overlay": 3}
    jobs = {}
    outs = {}
    for name, call in calls.items():
        group = f"eager-{name}-{id(call)}"
        sc.setJobGroup(group, group)
        try:
            outs[name] = call()
        finally:
            sc._jsc.clearJobGroup()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert all(jobs[k] <= budget[k] for k in budget), jobs
    # the returned frames still run
    assert outs["sjoin"].count() > 0
    assert outs["sjoin_nearest"].count() >= n
    assert outs["overlay"].count() > 0


def test_build_geometry_evaluated_once(spark, tmp_path, count_builds):
    """The construct phase of a broadcast join evaluates the caller's
    build geometry once per row: the build collect reads (id, WKB) only,
    and the bboxes come from that WKB on the driver (a collected bbox
    beside the geometry would run the caller's expression a second
    time). Single-partition builds, so the bounded collect reads every
    row exactly once."""
    from pyspark.sql.functions import pandas_udf

    from geopandas_spark.operators.sjoin import sjoin

    r = np.random.default_rng(8)
    pts = spark.read.parquet(_single_file(tmp_path, "pts", pd.DataFrame(
        {"lid": np.arange(300), "geometry": list(B.to_wkb(
            points_batch(r.random(300), r.random(300))))})))
    builds = {"rects": _rects(r, 40), "sb": _rects(r, 30, 0.2),
              "centers": list(B.to_wkb(points_batch(r.random(50),
                                                    r.random(50))))}
    sa = spark.read.parquet(_single_file(tmp_path, "sa", pd.DataFrame(
        {"i1": np.arange(30), "geometry": _rects(r, 30, 0.2)})))

    def counted(name, id_name):
        """The build as a single-file parquet read whose geometry runs
        through a pandas UDF counting the rows it evaluates."""
        acc = spark.sparkContext.accumulator(0)

        @pandas_udf("binary")
        def _count(s: pd.Series) -> pd.Series:
            acc.add(len(s))
            return s

        df = spark.read.parquet(_single_file(tmp_path, name, pd.DataFrame(
            {id_name: np.arange(len(builds[name])),
             "geometry": builds[name]})))
        return df.withColumn("geometry", _count("geometry")), acc

    rects, acc_r = counted("rects", "rid")
    sjoin(pts, rects, left_id="lid", right_id="rid", resolution=6)
    centers, acc_c = counted("centers", "rid")
    sjoin_nearest(pts, centers, left_id="lid", right_id="rid",
                  distance_col="d")
    sb, acc_b = counted("sb", "i2")
    overlay(sa, sb, id1="i1", id2="i2", make_valid=False)
    assert len(count_builds) == 3  # all three broadcast
    assert ((acc_r.value, acc_c.value, acc_b.value)
            == (len(builds["rects"]), len(builds["centers"]),
                len(builds["sb"])))


@pytest.mark.parametrize("case,want", [
    ("sjoin/broadcast", 0), ("nearest/broadcast", 0),
    ("overlay/broadcast", 0), ("sjoin/shuffle", 1), ("nearest/shuffle", 1),
    ("overlay/shuffle", 1), ("sjoin/left", 1), ("nearest/left", 1),
    ("overlay/columns", 1)])
def test_build_widened_only_when_read(spark, monkeypatch, count_builds,
                                      case, want):
    """The build side is widened (``_widen_build``) only when a pass
    after the plan reads it: the shuffle pair pass or an assembly
    re-join. A broadcast join with narrow assembly never reads it."""
    from geopandas_spark.operators import nearest as N
    from geopandas_spark.operators import overlay as O

    calls = []
    orig = S._widen_build

    def spy(df, geom):
        calls.append(geom)
        return orig(df, geom)

    for mod in (S, N, O):
        monkeypatch.setattr(mod, "_widen_build", spy)
    r = np.random.default_rng(4)
    pts = _frame(spark, list(B.to_wkb(points_batch(r.random(80),
                                                   r.random(80)))), "lid")
    rects = _frame(spark, _rects(r, 20))
    centers = _frame(spark, list(B.to_wkb(points_batch(r.random(20),
                                                       r.random(20)))))
    sa = _frame(spark, _rects(r, 15, 0.3), "i1")
    sb = _frame(spark, _rects(r, 15, 0.3), "i2")
    op, plan = case.split("/")
    if plan == "left":  # data columns on both sides: a re-join assembly
        pts, rects, centers = (f.withColumn("k", F.lit(1))
                               for f in (pts, rects, centers))
    kw = {"broadcast_right": False} if plan == "shuffle" else {}
    how = {"how": "left"} if plan == "left" else {}
    if op == "sjoin":
        out = S.sjoin(pts, rects, left_id="lid", right_id="rid", **kw, **how)
    elif op == "nearest":
        out = sjoin_nearest(pts, centers, left_id="lid", right_id="rid",
                            **kw, **how)
    else:
        if plan == "columns":
            sb = sb.withColumn("k", F.lit(1))
        if plan == "shuffle":  # overlay has no broadcast switch
            monkeypatch.setattr(P, "BROADCAST_EXPLODED_ROWS", 0)
        out = overlay(sa, sb, id1="i1", id2="i2", make_valid=False)
    assert len(calls) == want, calls
    assert len(count_builds) == (plan != "shuffle")
    assert out.count() > 0
