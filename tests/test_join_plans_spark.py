"""Plan decisions of sjoin, sjoin_nearest, overlay and overlay_candidates,
pinned from what a caller can observe while the DataFrame is built:

* the broadcast build indexes keyed (a ``BuildIndex`` spy) and the grid
  resolution of each;
* the row limit of every build-side collect (``collect_build``; None =
  unbounded);
* the Spark jobs the call starts before it returns (a job group around
  the call).

Inputs are single-file parquet tables (one partition each), so every
``widen`` repartition is on the path. Forcing hooks: the session's
``spark.sql.autoBroadcastJoinThreshold`` (-1 puts every build over the
collect-first size bound) and the planner's row cap and exploded-row
bound, set on whichever operators module defines them.
"""

import sys

import numpy as np
import pandas as pd
import pytest

from geopandas_spark.geom import wkb as B
from geopandas_spark.geom import wkt as W
from geopandas_spark.geom.ragged import points_batch
from geopandas_spark.operators import _buildindex
from geopandas_spark.operators.nearest import sjoin_nearest
from geopandas_spark.operators.overlay import overlay, overlay_candidates
from geopandas_spark.operators.sjoin import sjoin


def _rects(r, n, w):
    out = []
    for _ in range(n):
        x, y = r.random(2) * (1 - w)
        a, b = r.random(2) * w + 1e-3
        out.append(f"POLYGON (({x} {y}, {x + a} {y}, {x + a} {y + b}, "
                   f"{x} {y + b}, {x} {y}))")
    return out


def _lines(r, n):
    out = []
    for _ in range(n):
        x, y = r.random(2) * 0.9
        dx, dy = r.random(2) * 0.1
        out.append(f"LINESTRING ({x} {y}, {x + dx} {y + dy})")
    return out


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    r = np.random.default_rng(11)
    d = tmp_path_factory.mktemp("plans")

    def pts(n):
        return list(B.to_wkb(points_batch(r.random(n), r.random(n))))

    def wkb(rows):
        return list(B.to_wkb(W.from_wkt(rows)))

    tables = {
        "pts": ("lid", pts(300)),
        "centers": ("rid", pts(40)),
        "lines": ("rid", wkb(_lines(r, 40))),
        "rects": ("rid", wkb(_rects(r, 40, 0.08))),
        "mixed": ("rid", pts(15) + wkb(_lines(r, 15) + _rects(r, 15, 0.05))),
        "sa": ("i1", wkb(_rects(r, 40, 0.2))),
        "sb": ("i2", wkb(_rects(r, 40, 0.2))),
        # one giant per side: over 4096 cells at the auto resolution (7)
        **{name: (idc, wkb(_rects(r, 300, 0.004) + [
            "POLYGON ((0.02 0.03, 0.97 0.03, 0.97 0.98, 0.02 0.98, "
            "0.02 0.03))"])) for name, idc in (("ga", "i1"), ("gb", "i2"))},
    }
    out = {}
    for name, (idc, geoms) in tables.items():
        path = str(d / f"{name}.parquet")
        pd.DataFrame({idc: np.arange(len(geoms)),
                      "k": np.arange(len(geoms)) % 3,
                      "geometry": geoms}).to_parquet(path, index=False)
        out[name] = spark.read.parquet(path)
    return out


def _set_everywhere(monkeypatch, name, value):
    """Set ``name`` on every loaded operators module that defines it."""
    for mod_name, mod in list(sys.modules.items()):
        if (mod_name.startswith("geopandas_spark.operators")
                and hasattr(mod, name)):
            monkeypatch.setattr(mod, name, value)


def _sjoin(f, **kw):
    return sjoin(f["pts"], f["rects"], left_id="lid", right_id="rid", **kw)


def _nearest(build, bcast):
    return lambda f: sjoin_nearest(f["pts"], f[build], left_id="lid",
                                   right_id="rid", distance_col="d",
                                   broadcast_right=bcast)


# case -> (call, forcing, (BuildIndex resolutions, collect limits, jobs))
ROW_CAP = 10
CASES = {
    "sjoin/auto": (lambda f: _sjoin(f), {}, ((4,), (888888,), 2)),
    "sjoin/res6": (lambda f: _sjoin(f, resolution=6), {},
                   ((6,), (888888,), 1)),
    "sjoin/forced": (lambda f: _sjoin(f, broadcast_right=True), {},
                     ((4,), (None,), 2)),
    "sjoin/row_cap": (lambda f: _sjoin(f), {"cap": ROW_CAP},
                      ((), (ROW_CAP,), 3)),
    "sjoin/row_cap_res6": (lambda f: _sjoin(f, resolution=6),
                           {"cap": ROW_CAP}, ((), (ROW_CAP,), 3)),
    "sjoin/stats_first": (lambda f: _sjoin(f), {"stats_first": True},
                          ((4,), (None,), 3)),
    "sjoin/stats_first_no_fit": (
        lambda f: _sjoin(f), {"stats_first": True, "exploded": 1},
        ((), (), 2)),
    "sjoin/on_attribute": (lambda f: _sjoin(f, on_attribute="k"), {},
                           ((), (), 2)),
    "sjoin/salt": (lambda f: _sjoin(f, salt_hot_cells=True,
                                    hot_cell_threshold=2), {},
                   ((), (), 5)),
    "sjoin/no_broadcast": (lambda f: _sjoin(f, broadcast_right=False), {},
                           ((), (), 2)),
    "sjoin/dwithin_no_broadcast": (
        lambda f: _sjoin(f, predicate="dwithin", distance=0.05,
                         broadcast_right=False), {}, ((), (), 2)),
    **{f"nearest/{build}/{bcast}": (_nearest(build, bcast), {}, want)
       for (build, bcast), want in {
           ("centers", None): ((2,), (888888,), 1),
           ("centers", True): ((2,), (None,), 1),
           ("centers", False): ((), (), 6),
           ("lines", None): ((2,), (888888,), 1),
           ("lines", True): ((2,), (None,), 1),
           ("lines", False): ((), (), 6),
           ("rects", None): ((), (888888,), 6),
           ("rects", True): ((2,), (None,), 1),
           ("rects", False): ((), (), 6),
           ("mixed", None): ((), (888888,), 6),
           ("mixed", True): ((2,), (None,), 1),
           ("mixed", False): ((), (), 6),
       }.items()},
    "nearest/centers/row_cap": (_nearest("centers", None), {"cap": ROW_CAP},
                                ((), (ROW_CAP,), 7)),
    # the late collect of a build sized first reads the un-widened
    # build, as every other build collect does: one job, no shuffle stage
    "nearest/centers/stats_first": (_nearest("centers", None),
                                    {"stats_first": True}, ((2,), (None,), 2)),
    "nearest/rects/stats_first": (_nearest("rects", None),
                                  {"stats_first": True}, ((), (None,), 7)),
    "overlay": (lambda f: overlay(f["sa"], f["sb"], id1="i1", id2="i2",
                                  make_valid=False), {},
                ((3,), (888888,), 3)),
    "overlay/row_cap": (lambda f: overlay(f["sa"], f["sb"], id1="i1",
                                          id2="i2", make_valid=False),
                        {"cap": ROW_CAP}, ((), (ROW_CAP,), 6)),
    "overlay/pair_on": (lambda f: overlay(f["sa"], f["sb"], id1="i1",
                                          id2="i2", make_valid=False,
                                          pair_on="k"), {}, ((), (), 5)),
    "overlay_candidates": (lambda f: overlay_candidates(
        f["sa"], f["sb"], id1="i1", id2="i2"), {}, ((), (), 2)),
    # giants leave the cogroup: one bounded collect per side that may
    # hold one (the probe's reads its widened frame, so its repartition
    # is a job of its own); past the bound the resolution clamps and
    # nothing more is collected
    "giants/sjoin": (lambda f: sjoin(f["ga"], f["gb"], left_id="i1",
                                     right_id="i2", broadcast_right=False),
                     {}, ((), (888888, 888888), 5)),
    "giants/overlay/pair_on": (lambda f: overlay(
        f["ga"], f["gb"], id1="i1", id2="i2", make_valid=False,
        pair_on="k"), {}, ((), (888888, 888888), 8)),
    "giants/overlay_candidates": (lambda f: overlay_candidates(
        f["ga"], f["gb"], id1="i1", id2="i2"), {},
        ((), (888888, 888888), 5)),
    "giants/sjoin/clamp": (lambda f: sjoin(f["ga"], f["gb"], left_id="i1",
                                           right_id="i2",
                                           broadcast_right=False),
                           {"cap": 0}, ((), (0,), 4)),
}


@pytest.mark.parametrize("case", list(CASES))
def test_plan_decisions(spark, frames, monkeypatch, count_builds, case):
    call, force, want = CASES[case]
    limits = []
    orig_collect = _buildindex.collect_build

    def spy_collect(df, id_col, geom_col, limit=None):
        limits.append(limit)
        return orig_collect(df, id_col, geom_col, limit)

    _set_everywhere(monkeypatch, "collect_build", spy_collect)
    if "cap" in force:
        _set_everywhere(monkeypatch, "BROADCAST_MAX_ROWS", force["cap"])
    if "exploded" in force:
        _set_everywhere(monkeypatch, "BROADCAST_EXPLODED_ROWS",
                        force["exploded"])
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if force.get("stats_first"):
        spark.conf.set(key, "-1")
    sc = spark.sparkContext
    group = f"plan-{case}"
    sc.setJobGroup(group, group)
    try:
        call(frames)
    finally:
        sc._jsc.clearJobGroup()
        spark.conf.set(key, old)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    got = (tuple(b.resolution for b in count_builds), tuple(limits), jobs)
    assert got == want, got


@pytest.mark.parametrize("case", [
    "sjoin/inner", "sjoin/left", "nearest/inner", "nearest/left",
    "overlay/intersection", "overlay/difference"])
def test_empty_build_broadcasts(spark, frames, count_builds, case):
    """An empty build side takes the broadcast kernel, with no shuffle
    plan, and gives the rows of a join against nothing."""
    op, how = case.split("/")
    empty = spark.createDataFrame([], "rid long, geometry binary")
    if op == "overlay":
        df1 = frames["sa"]
        out = overlay(df1, empty.withColumnRenamed("rid", "i2"), how=how,
                      id1="i1", id2="i2", make_valid=False)
        want = ([] if how == "intersection" else sorted(
            (r.i1, bytes(r.geometry)) for r in df1.collect()))
        got = sorted((r.i1, bytes(r.geometry)) for r in out.collect())
    else:
        call = sjoin if op == "sjoin" else sjoin_nearest
        out = call(frames["pts"], empty, how=how, left_id="lid",
                   right_id="rid")
        want = ([] if how == "inner" else sorted(
            (r.lid, None) for r in frames["pts"].collect()))
        got = sorted((r.lid, r.index_right) for r in out.collect())
    assert got == want
    assert len(count_builds) == 1
