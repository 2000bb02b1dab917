"""Join planner: every decision sjoin, overlay, overlay_candidates and
sjoin_nearest make before their kernels run.

A join has a probe side and a build side (sjoin's and sjoin_nearest's
right, overlay's df2). Planning is three steps, and each join reads the
outcome as one ``JoinPlan``:

1. **Size the build side** (``_size_build``, shared by both entry
   points). Spark cannot size a UDF-derived frame, which defeats AQE's
   own broadcast estimate, so the planner sizes the build itself. A build
   that may broadcast and whose plan size estimate is small
   (``_collect_first``) is Arrow-collected ONCE
   (``_buildindex.collect_build``), bounded at ``BROADCAST_MAX_ROWS``
   rows unless the broadcast is forced; its count and bbox extents come
   from that table in numpy, and a broadcast build is keyed from the same
   table. A larger build is sized by one map-only job (``_side_stats``)
   and collected only if it fits. A build over the row cap could never
   pass the fit test below, so it takes the shuffle plan.
2. **Pick the resolution and the plan.**
   * sjoin and overlay (``plan_join``): a given ``resolution`` is kept.
     Otherwise one map-only job reads the probe's extents and the grid
     is sized so an average geometry covers ~1-2 cells. The build
     broadcasts when its estimated exploded cell cover is at most
     ``BROADCAST_EXPLODED_ROWS`` (``_fits``), or when forced.
     ``on_attribute``, ``salt_hot_cells``, ``pair_on``,
     ``broadcast_right=False`` and ``overlay_candidates`` always take the
     shuffle plan.
   * sjoin_nearest (``plan_nearest``) keeps kNN's own rules. The grid
     holds ~8 build rows per cell, or one ``max_distance`` per cell. A
     build that fits broadcasts only if its distance is vectorized in
     the broadcast kernel: puntal (zero bbox extents; sqrt math) or
     lineal (every distinct 5-byte WKB header a (Multi)LineString code;
     segment soup). An areal or mixed build would pay the general ragged
     pairwise kernel per (2k+1)^2-cell candidate block, measured 4-5x
     slower than the shuffle plan's one-cell phase 1 on the nearest_line
     shape (sf0.1: 28.8 s vs 7.6 s), so it takes the shuffle plan; the
     headers come out of the collected build, and a large build that
     fits is collected for them. This is a plan choice, not correctness:
     both kNN plans are bit-identical.
3. **Cover scheme of the shuffle plan** (``JoinPlan.cover``): one
   resolution per join, the broadcast index's layout
   (``_buildindex``). A row covers its cells at ``resolution`` only; a
   row whose cover at the worst grid alignment would exceed
   ``MAX_CELLS`` is a giant (``_giant``), gets no cells and stays out of
   the cell cogroup (``sjoin._cogroup_pairs``). A side may hold a giant
   only if its largest bbox is one (``_min_cover_res`` below the
   resolution: the stats bound every row); the planner then collects
   that side's giants in one job bounded at ``BROADCAST_MAX_ROWS``,
   filtered by the rule the cover applies (``_collect_giants``), and
   the other side streams against them, keyed on a grid of their own
   (``sjoin._giant_pairs``). A side whose giants pass the bound clamps
   the resolution to the smaller ``_min_cover_res`` of the two sides,
   where no row is a giant. kNN's shuffle plan always clamps, to its
   build's ``_min_cover_res``: it joins on exact fine-cell equality and
   has no giant pass. The clamp reads the stats even when the caller
   gave the resolution: correctness must not depend on a hint.

Every job the planner starts is one of: the build collect, the build's
or the probe's ``_side_stats``, a side's giant collect. Each reads the
caller's raw probe or the un-widened build, never a widened frame,
whose repartition would add a shuffle stage to the job; only the
probe's giant collect reads the prepped probe, whose ids the cogroup
uses. The stats of a frame read only its geometry
column, so a raw frame and its prepped frame give the same stats.
With an auto resolution and a build that may broadcast, the probe's
stats job runs on a thread of its own beside the build's sizing
(``_beside``), in the caller's job group: either plan reads those
stats, so the job is never wasted.
"""

from __future__ import annotations

from concurrent import futures
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.st import _cell_lists
from ..index import cells as C
from ..index.cells import MAX_RES, cell_size, pick_resolution
from ._buildindex import (PARTIAL_SCHEMA, BuildTable, bbox_partial,
                          collect_build, combine_partials)

# exploded build-side rows at most this -> broadcast the build instead
# of shuffling both sides
BROADCAST_EXPLODED_ROWS = 2_000_000
# _est_exploded counts every row at >= 1.5 x 1.5 cells, so a build with
# more rows than this never passes _fits: the bounded build collect stops
# one row past it. Derived, not a knob.
BROADCAST_MAX_ROWS = BROADCAST_EXPLODED_ROWS * 4 // 9
# a shuffle row covering more cells than this at the join's resolution
# is a giant (the broadcast index's always-row threshold)
MAX_CELLS = 4096


@dataclass(frozen=True)
class JoinPlan:
    """What a join runs. ``table`` is the collected build side to
    broadcast (``_buildindex.BuildTable``), or None for the shuffle plan.
    ``giants`` holds the shuffle plan's collected giant rows of the
    probe and the build side (``_collect_giants``), None for a side
    without any."""

    resolution: int
    table: BuildTable | None
    domain: tuple
    giants: tuple = (None, None)

    def cover(self, pad: float = 0.0) -> Column:
        """Shuffle cover cells at ``resolution`` of a prepped side from
        its ``__bb`` struct (no second WKB decode), the bbox padded by
        ``pad`` (dwithin): empty for a giant, NULL without a bbox, so
        ``explode`` keeps both out of the cogroup."""
        # plain values: the UDF closure must not pickle the giant tables
        res, domain = self.resolution, self.domain
        return _bbox_udf("array<long>",
                         lambda bb: _cells(bb, res, domain, pad))


def plan_join(probe: DataFrame, build: DataFrame, bid: str,
              geoms: tuple[str, str], resolution: int | None, domain, *,
              broadcast: bool | None, prepped: tuple[DataFrame, str],
              pad: float = 0.0, keys: list[str] = ()) -> JoinPlan:
    """Plan of sjoin, overlay and overlay_candidates.

    ``probe`` is the caller's raw probe and ``build`` the un-widened
    build side (prepped, so it carries ``bid`` for the collect): every
    planner job reads them, never the widened frames the passes read,
    whose repartition would add a shuffle stage to each job.
    ``prepped`` is the prepped probe and its id column, which the probe's
    giant collect reads. ``broadcast`` False skips the decision; ``pad``
    widens the probe's bboxes (dwithin); ``keys`` are the equality
    columns the giants carry (``on_attribute`` / ``pair_on``)."""
    pgeom, bgeom = geoms
    stats = [None, None]
    if broadcast is not False:
        # an auto resolution reads the probe's stats on either plan: that
        # job runs beside the build's sizing
        probe_stats = (_beside(_side_stats, probe, pgeom)
                       if resolution is None else None)
        try:
            table, stats[1] = _size_build(build, bid, bgeom, broadcast)
            if probe_stats is not None:
                stats[0] = probe_stats.result()
        finally:  # never leave the stats job running past the call
            if probe_stats is not None:
                futures.wait([probe_stats])
        if stats[1] is not None:
            res = resolution
            if res is None:
                res = _estimate_resolution(stats, domain)
            if broadcast or _fits(stats[1], res, domain):
                if table is None:  # fits, so n <= BROADCAST_MAX_ROWS
                    table = collect_build(build, bid, bgeom)
                return JoinPlan(res, table, domain)
    stats = [s if s is not None else _side_stats(df, g)
             for s, df, g in zip(stats, (probe, build), geoms)]
    if resolution is None:
        resolution = _estimate_resolution(stats, domain)
    clamp = [_min_cover_res(stats[0], resolution, domain, pad),
             _min_cover_res(stats[1], resolution, domain)]
    giants = [None, None]
    for k, (df, id_col, geom, p) in enumerate(
            (prepped + (pgeom, pad), (build, bid, bgeom, 0.0))):
        if clamp[k] == resolution:  # no row of this side can be a giant
            continue
        table = _collect_giants(df, id_col, geom, resolution, domain, p, keys)
        if table is None:  # over the bound: clamp, so no row is a giant
            return JoinPlan(min(clamp), None, domain)
        giants[k] = table if table.n else None
    return JoinPlan(resolution, None, domain, tuple(giants))


def _collect_giants(df: DataFrame, id_col: str, geom: str, resolution: int,
                    domain, pad: float, keys: list[str]) -> BuildTable | None:
    """The giants of a prepped side (``_giant`` on its ``__bb``, bboxes
    padded by ``pad``: the rows whose ``JoinPlan.cover`` is empty,
    without building the cells), collected like a build side (bounded
    at ``BROADCAST_MAX_ROWS``; None past it). Their id column holds a
    struct of the id and the ``keys`` values as ``__a0``..; a row with a
    NULL key never pairs and is left out."""
    giant = _bbox_udf("boolean", lambda bb: pd.Series(
        _giant(bb, resolution, domain, pad)))
    for c in keys:
        giant &= F.col(c).isNotNull()
    return collect_build(df.filter(giant).withColumn("__gid", F.struct(
        id_col, *[F.col(c).alias(f"__a{i}") for i, c in enumerate(keys)])),
        "__gid", geom, BROADCAST_MAX_ROWS)


def plan_nearest(build: DataFrame, bid: str, geom: str,
                 resolution: int | None, domain, *, broadcast: bool | None,
                 max_distance: float | None) -> JoinPlan:
    """Plan of sjoin_nearest from its un-widened, prepped build side: the
    shared sizing step, then kNN's resolution rule, puntal/lineal routing
    and grid clamp (module docstring)."""
    table = stats = None
    if broadcast is not False:
        table, stats = _size_build(build, bid, geom, broadcast)
        if stats is None:  # over the row cap
            broadcast = False
    if stats is None:
        stats = _side_stats(build, geom)
    if resolution is None:
        resolution = _knn_resolution(stats["n"], domain, max_distance)
    if broadcast is None:
        broadcast = _fits(stats, resolution, domain)
        if broadcast and not (stats["mw"] == 0.0 and stats["mh"] == 0.0):
            if table is None:
                table = collect_build(build, bid, geom)
            broadcast = _all_lineal_headers(table.headers())
    if broadcast:
        if table is None:  # fits, so n <= BROADCAST_MAX_ROWS
            table = collect_build(build, bid, geom)
        return JoinPlan(resolution, table, domain)
    return JoinPlan(_min_cover_res(stats, resolution, domain), None, domain)


def _size_build(build: DataFrame, bid: str, geom: str,
                broadcast: bool | None):
    """(collected table or None, stats or None) of a build side that may
    broadcast: collected first when forced or small (``_collect_first``,
    bounded at ``BROADCAST_MAX_ROWS`` unless forced), else sized by
    ``_side_stats``. (None, None) = over the row cap."""
    if broadcast or _collect_first(build):
        table = collect_build(build, bid, geom,
                              None if broadcast else BROADCAST_MAX_ROWS)
        return table, None if table is None else table.stats()
    return None, _side_stats(build, geom)


def _collect_first(build: DataFrame) -> bool:
    """Whether a broadcast-candidate build side is collected before it
    is sized. Collecting first sizes and builds from one job, but a
    build that then takes the shuffle pass has moved its WKB to the
    driver for nothing. So only a build whose plan size estimate is
    within Spark's own no-look broadcast bound
    (``spark.sql.autoBroadcastJoinThreshold``) is collected first; a
    larger one is sized by ``_side_stats`` and collected only if it
    fits. The estimate is Spark's (file sizes scaled through the plan);
    where it is unavailable the build is collected first."""
    try:
        limit = build.sparkSession._jsparkSession.sessionState().conf() \
            .autoBroadcastJoinThreshold()
        size = build._jdf.queryExecution().optimizedPlan().stats() \
            .sizeInBytes()
        return int(size) <= int(limit)
    except Exception:
        return True


def _beside(fn, df: DataFrame, *args) -> futures.Future:
    """``fn(df, *args)`` on a thread of its own, started now, so its
    Spark jobs run beside the caller's. The thread inherits the caller's
    job group and local properties, so its jobs are attributed as the
    caller's own."""
    out = futures.Future()

    def run():
        try:
            out.set_result(fn(df, *args))
        except BaseException as e:  # re-raised by result(), as in an executor
            out.set_exception(e)

    InheritableThread(run, session=df.sparkSession).start()
    return out


def _side_stats(df: DataFrame, geom: str) -> dict:
    """n and avg + max bbox extents of one side in ONE map-only job. Each
    task decodes its WKB and reduces each Arrow batch's bboxes to one
    partial row; the driver combines the rows. (A Spark global agg is
    two jobs under AQE: its exchange is a query stage.) Only ``geom`` is
    read, so a raw frame and a ``_prep_side`` frame give the same
    stats."""

    def fn(it):
        import pyarrow as pa

        from ..geom.kernels import bounds
        from ..geom.wkb import from_wkb

        for batch in it:
            row = bbox_partial(bounds(from_wkb(
                batch.column(0).to_numpy(zero_copy_only=False))))
            yield pa.RecordBatch.from_pylist(
                [dict(zip(("n", "sw", "cw", "mw", "sh", "ch", "mh"), row))])

    parts = df.select(geom).mapInArrow(fn, PARTIAL_SCHEMA).toArrow()
    return combine_partials(np.column_stack(
        [c.to_numpy() for c in parts.columns]))


def _est_exploded(stats: dict, resolution: int, domain) -> float:
    """Estimated exploded cell-cover rows for a side (n x avg cells)."""
    cw, ch = cell_size(resolution, domain)
    cells = (stats["aw"] / cw + 1.5) * (stats["ah"] / ch + 1.5)
    return stats["n"] * max(cells, 1.0)


def _fits(stats: dict, resolution: int, domain) -> bool:
    """The broadcast fit test. An empty build fits: the broadcast kernels
    skip it without a shuffle."""
    return _est_exploded(stats, resolution, domain) <= BROADCAST_EXPLODED_ROWS


def _estimate_resolution(stats: list[dict], domain) -> int:
    """sjoin's and overlay's grid: an average geometry of either side
    covers ~1-2 cells."""
    avg_w = max(stats[0]["aw"], stats[1]["aw"])
    avg_h = max(stats[0]["ah"], stats[1]["ah"])
    if avg_w == 0.0 and avg_h == 0.0:
        # pure point data both sides: fine grid, capped
        return 12
    return pick_resolution(avg_w, avg_h, domain=domain, target_cells=1.0)


def _knn_resolution(n: int, domain, max_distance: float | None) -> int:
    """kNN's grid: one ``max_distance`` per cell, else ~8 build rows per
    cell: dense enough that the k=1 disk usually holds the true nearest
    neighbor AND certifies it."""
    if max_distance is not None:
        return pick_resolution(max_distance, max_distance, domain=domain,
                               target_cells=1.0)
    return int(np.clip(int(np.ceil(np.log2(max(n / 8.0, 1)) / 2)), 1,
                       MAX_RES))


def _all_lineal_headers(prefixes: list[str]) -> bool:
    """True iff every distinct 5-byte WKB header (hex) in the build side
    decodes to a (Multi)LineString type code — ISO Z/M offsets and EWKB
    flags stripped. Empty set (no non-null geometries) -> False."""
    if not prefixes:
        return False
    for h in prefixes:
        if len(h) < 10:
            return False
        b = bytes.fromhex(h)
        raw = int.from_bytes(b[1:5], "little" if b[0] == 1 else "big")
        if (raw & 0x0FFFFFFF) % 1000 not in (2, 5):
            return False
    return True


def _min_cover_res(stats: dict, resolution: int, domain,
                   pad: float = 0.0) -> int:
    """The clamp rule: the finest res, at most ``resolution``, where this
    side's largest bbox (padded by ``pad``) is no giant (``_giant``), so
    no row of the side is one."""
    for r in range(resolution, 0, -1):
        if not _giant(np.array([[0.0, 0.0, stats["mw"], stats["mh"]]]), r,
                      domain, pad)[0]:
            return r
    return 0


def _giant(bb: np.ndarray, resolution: int, domain,
           pad: float = 0.0) -> np.ndarray:
    """Which bbox rows of ``bb`` (n, 4), padded by ``pad``, are giants at
    ``resolution``: their cover at the worst grid alignment (extent in
    cells plus two per axis) exceeds ``MAX_CELLS``. An extent rule, so
    the stats of a side bound every row's split exactly; a NaN row is
    none."""
    cw, ch = cell_size(resolution, domain)
    nx = np.floor((bb[:, 2] - bb[:, 0] + 2 * pad) / cw) + 2
    ny = np.floor((bb[:, 3] - bb[:, 1] + 2 * pad) / ch) + 2
    return nx * ny > MAX_CELLS


def _bbox_udf(rtype: str, fn) -> Column:
    """``fn`` (bboxes (n, 4) -> pd.Series) over a prepped side's ``__bb``
    struct, as a pandas UDF of return type ``rtype``."""

    @pandas_udf(rtype)
    def _f(mnx: pd.Series, mny: pd.Series, mxx: pd.Series,
           mxy: pd.Series) -> pd.Series:
        return fn(np.column_stack([s.to_numpy(dtype=np.float64)
                                   for s in (mnx, mny, mxx, mxy)]))

    return _f(*[F.col(f"__bb.{c}") for c in ("minx", "miny", "maxx", "maxy")])


def _cells(bb: np.ndarray, resolution: int, domain, pad: float) -> pd.Series:
    """Cover cells at ``resolution`` of each bbox row of ``bb`` padded by
    ``pad``: every grid cell of a non-giant row, empty for a giant, NULL
    for a NaN bbox. No row is coarsened (``bbox_cover`` unbounded)."""
    miss = np.isnan(bb[:, 0])
    keep = ~(miss | _giant(bb, resolution, domain, pad))
    bb = np.nan_to_num(bb[keep]) + np.array([-pad, -pad, pad, pad])
    flat, off = C.bbox_cover(*bb.T, resolution, domain, max_cells=np.inf)
    out = np.zeros(len(keep) + 1, dtype=np.int64)
    out[1:][keep] = np.diff(off)
    return _cell_lists(flat, np.cumsum(out), miss)
