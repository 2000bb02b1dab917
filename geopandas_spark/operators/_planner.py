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
3. **Cover scheme of the shuffle plan** (``JoinPlan.cover``). A row whose
   bbox spans more than ``max_cells`` fine cells is covered at a coarser
   resolution. The cell cogroup of sjoin, overlay and overlay_candidates
   (``sjoin._cogroup_pairs``) therefore has the other side emit ancestor
   cells (``_ancestors_udf``) down to each side's floor, the coarsest
   cover res its largest bbox can fall back to (``_min_cover_res``), so
   mixed-resolution pairs still meet on a common cell. kNN's shuffle plan joins on exact fine-cell equality, so
   it clamps the whole grid to the res its largest build bbox still
   covers at full res instead; the floors are then the resolution and
   the cover has no chain. The clamp reads the build's stats even when
   the caller gave the resolution: correctness must not depend on a hint.
   A broadcast build is keyed on one fine grid with giant rows as
   always-candidates (``_buildindex``) and needs no floors.

Every job the planner starts is one of: the build collect, the build's
or the probe's ``_side_stats``. Each reads the caller's raw probe or the
un-widened build, never a widened frame, whose repartition would add a
shuffle stage to the job. The stats of a frame read only its geometry
column, so a raw frame and its prepped frame give the same stats.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.st import st_cells_from_bbox
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


@dataclass(frozen=True)
class JoinPlan:
    """What a join runs. ``table`` is the collected build side to
    broadcast (``_buildindex.BuildTable``), or None for the shuffle plan.
    ``probe_floor`` / ``build_floor`` are the coarsest cover res each
    side's rows can fall back to; a broadcast plan has both at
    ``resolution``."""

    resolution: int
    table: BuildTable | None
    probe_floor: int
    build_floor: int
    domain: tuple

    def cover(self, side: str, pad: float = 0.0) -> Column:
        """Shuffle cover cells of a prepped ``side`` ("probe" or "build")
        from its ``__bb`` struct (no second WKB decode), the bbox padded
        by ``pad`` (dwithin), with ancestors down to the other side's
        floor."""
        floor = self.build_floor if side == "probe" else self.probe_floor
        lo = [F.col("__bb.minx"), F.col("__bb.miny")]
        hi = [F.col("__bb.maxx"), F.col("__bb.maxy")]
        if pad:
            lo = [c - pad for c in lo]
            hi = [c + pad for c in hi]
        cells = st_cells_from_bbox(*lo, *hi, self.resolution,
                                   domain=self.domain)
        if floor < self.resolution:
            cells = _ancestors_udf(floor)(cells)
        return cells


def plan_join(probe: DataFrame, build: DataFrame, bid: str,
              geoms: tuple[str, str], resolution: int | None, domain, *,
              broadcast: bool | None, pad: float = 0.0) -> JoinPlan:
    """Plan of sjoin, overlay and overlay_candidates.

    ``probe`` is the caller's raw probe and ``build`` the un-widened
    build side (prepped, so it carries ``bid`` for the collect): every
    planner job reads them, never the widened frames the passes read,
    whose repartition would add a shuffle stage to each job.
    ``broadcast`` False skips the decision; ``pad`` widens the probe's
    bboxes (dwithin)."""
    pgeom, bgeom = geoms
    stats = [None, None]
    if broadcast is not False:
        table, stats[1] = _size_build(build, bid, bgeom, broadcast)
        if stats[1] is not None:
            res = resolution
            if res is None:
                stats[0] = _side_stats(probe, pgeom)
                res = _estimate_resolution(stats, domain)
            if broadcast or _fits(stats[1], res, domain):
                if table is None:  # fits, so n <= BROADCAST_MAX_ROWS
                    table = collect_build(build, bid, bgeom)
                return JoinPlan(res, table, res, res, domain)
    stats = [s if s is not None else _side_stats(df, g)
             for s, df, g in zip(stats, (probe, build), geoms)]
    if resolution is None:
        resolution = _estimate_resolution(stats, domain)
    return JoinPlan(resolution, None,
                    _min_cover_res(stats[0], resolution, domain, pad),
                    _min_cover_res(stats[1], resolution, domain), domain)


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
        return JoinPlan(resolution, table, resolution, resolution, domain)
    resolution = _min_cover_res(stats, resolution, domain)
    return JoinPlan(resolution, None, resolution, resolution, domain)


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
    """Lower bound on the per-row cover res this side can produce
    (bbox_cover's max_cells fallback on the largest bbox, worst grid
    alignment). Never higher than any actual row's res."""
    w = stats["mw"] + 2 * pad
    h = stats["mh"] + 2 * pad
    for r in range(resolution, 0, -1):
        cw, ch = cell_size(r, domain)
        nx = int(np.floor(w / cw)) + 2
        ny = int(np.floor(h / ch)) + 2
        if nx * ny <= 4096:  # the covers' max_cells
            return r
    return 0


def _ancestors_udf(down_to: int):
    """array<long> cells -> cells + ancestor chain down to ``down_to``.

    Vectorized over the whole Arrow batch: each cell's parents down to
    ``down_to`` appended per resolution step, then one lexsort for the
    per-row unique — no per-row Python loop. Only the shuffle cell
    cogroup uses cover ancestors; the broadcast index is a single fine
    grid."""

    @pandas_udf("array<long>")
    def _f(cells: pd.Series) -> pd.Series:
        import pyarrow as pa

        from ..index import cells as C

        n = len(cells)
        arr = pa.array(cells, type=pa.list_(pa.int64()))
        offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        flat = arr.values.to_numpy(zero_copy_only=False).astype(
            np.int64, copy=False)
        lens = np.diff(offs)
        prow = np.repeat(np.arange(n, dtype=np.int64), lens)
        nulls = None
        if arr.null_count:
            nulls = arr.is_null().to_numpy(zero_copy_only=False)
            keep = ~np.repeat(nulls, lens)
            flat, prow = flat[keep], prow[keep]
        cflat, crow = [flat], [prow]
        if len(flat):
            res = C.cell_res(flat)
            for step in range(1, int(res.max()) - down_to + 1):
                m = res - step >= down_to
                cflat.append(C.parent(flat[m], step))
                crow.append(prow[m])
        cflat, crow = np.concatenate(cflat), np.concatenate(crow)
        order = np.lexsort((cflat, crow))
        cs, rs = cflat[order], crow[order]
        first = np.ones(len(cs), dtype=bool)
        first[1:] = (cs[1:] != cs[:-1]) | (rs[1:] != rs[:-1])
        cs, rs = cs[first], rs[first]
        bounds_ = np.append(0, np.cumsum(np.bincount(rs, minlength=n)))
        out = [None if (nulls is not None and nulls[i])
               else cs[bounds_[i]:bounds_[i + 1]]
               for i in range(n)]
        return pd.Series(out, dtype=object)

    return _f
