"""Broadcast build side shared by every broadcast join: sjoin's probe,
overlay's intersection probe, sjoin_nearest's broadcast kNN and the two
stream-static joins (streaming/join.py, streaming/nearest.py).

Layout — one fine grid at the join's resolution, no mixed resolutions:

* every build row whose bbox spans at most ``max_cells`` grid cells is
  keyed once per covered cell, key = i * 2^res + j (i-major), and the
  (key, row) pairs are sorted by key;
* a larger ("giant") row gets no keys and becomes an always-row, a
  candidate of every probe — the probe's bbox prefilter or exact kernel
  still decides;
* a row with a NaN bbox (null or empty geometry) gets neither.

Because the keys are i-major, the cells of one grid row i across
j0..j1 are one contiguous searchsorted range, so a probe rectangle
(a probe bbox, or kNN's Chebyshev disk around a cell) costs one range
per grid row it spans. Soundness: ``_grid_ij`` is monotone (floor, then
clamp), so two bboxes that overlap (or touch) share at least one cell.

The driver collects the build side once (``collect_build``, one job,
bounded by the row cap) as (id, WKB) only and decodes the bboxes from
that WKB itself (``BuildTable``), so the job evaluates the caller's
geometry expression once per row: a collected ``__bb`` next to the
geometry would re-run it, as Catalyst inlines the expression into the
bounds UDF's input. The driver keys that table (``BuildIndex``); the
join planner (operators/_planner.py) sizes the build, decides the
broadcast from the same table's stats and picks the resolution. Each
worker process decodes it once into a ``_Build`` held in a small
bounded cache keyed by the index's uuid, and reuses it across tasks.
"""

from __future__ import annotations

from functools import cached_property

import numpy as np
from pyspark.sql import functions as F

from ..index import cells as C

# worker-process cache of decoded build sides (a pyspark Broadcast's
# .value is re-read per task; the decoded batch must outlive the task)
_CACHE: dict = {}
_CACHE_MAX = 4


# Spark schema of one bbox_partial row
PARTIAL_SCHEMA = ("n long, sw double, cw long, mw double,"
                  " sh double, ch long, mh double")


def bbox_partial(bb: np.ndarray) -> list:
    """[n, then sum, count and max of the widths, then of the heights] of
    bboxes ``bb`` (n, 4). NaN extents (null or empty geometries) are
    skipped, as Spark's avg/max skip NULL ``__bb`` fields."""
    out = [len(bb)]
    for lo, hi in ((0, 2), (1, 3)):
        e = bb[:, hi] - bb[:, lo]
        e = e[~np.isnan(e)]
        out += [float(e.sum()), len(e), float(e.max()) if len(e) else -np.inf]
    return out


def combine_partials(rows) -> dict:
    """``_planner._side_stats``'s dict (n, avg/max width and height) of one
    side from its ``bbox_partial`` rows; no extent at all gives 0.0."""
    p = np.asarray(rows, dtype=np.float64).reshape(-1, 7)
    out = {"n": int(p[:, 0].sum())}
    for k, c in (("w", 1), ("h", 4)):
        cnt = p[:, c + 1].sum()
        out["a" + k] = float(p[:, c].sum() / cnt) if cnt else 0.0
        out["m" + k] = float(p[:, c + 2].max()) if cnt else 0.0
    return out


class BuildTable:
    """Driver-side Arrow copy of one build side: ``tbl`` holds (i = id,
    g = WKB) of a frame, row order = build row index, and ``bb`` (n, 4)
    the rows' bboxes, decoded from that WKB on the driver by the kernel
    ``st_bounds`` runs (bit-identical; NaN for a null or empty
    geometry). Everything the driver decides about a broadcast build
    (its stats, its geometry-type headers, its index) is derived from
    this one table, so the build crosses the JVM<->Python boundary once
    per operator call."""

    def __init__(self, tbl, id_type, sc):
        from ..geom.kernels import bounds
        from ..geom.wkb import from_wkb

        self.tbl = tbl
        self.id_type = id_type
        self.sc = sc
        self.n = tbl.num_rows
        self.bb = bounds(from_wkb(
            tbl["g"].to_numpy(zero_copy_only=False))).reshape(self.n, 4)

    def stats(self) -> dict:
        """``_planner._side_stats``'s dict for this side, from the
        collected bboxes."""
        return combine_partials([bbox_partial(self.bb)])

    def headers(self) -> list[str]:
        """Distinct 5-byte WKB headers (endian + type code) of the
        non-null rows as upper-case hex: the set SQL's
        ``collect_set(hex(substring(g, 1, 5)))`` returns."""
        import pyarrow.compute as pc

        pre = pc.unique(pc.binary_slice(self.tbl["g"], 0, 5)).drop_null()
        return [h.hex().upper() for h in pre.to_pylist()]


def collect_build(df, id_col: str, geom_col: str,
                  limit: int | None = None) -> BuildTable | None:
    """Arrow-collect (id, wkb) of ``df`` in one job; the bboxes are
    decoded on the driver (``BuildTable``). With ``limit``, at most
    ``limit + 1`` rows are collected and an overflowing build returns
    None."""
    sel = df.select(F.col(id_col).alias("i"), F.col(geom_col).alias("g"))
    if limit is not None:
        sel = sel.limit(limit + 1)
    tbl = sel.toArrow().combine_chunks()
    if limit is not None and tbl.num_rows > limit:
        return None
    return BuildTable(tbl, df.schema[id_col].dataType,
                      df.sparkSession.sparkContext)


class BuildIndex:
    """Driver-side handle of one broadcast build side; pickled into the
    probe closure. ``ids`` is the build id column as one Arrow array (row
    order = build row index), ``id_type`` its Spark type."""

    def __init__(self, build: BuildTable, resolution: int, domain,
                 max_cells: int = 4096):
        """Key the collected ``build`` at ``resolution`` in numpy on the
        driver and broadcast it — no Spark job."""
        import uuid

        import pyarrow as pa
        import pyarrow.compute as pc

        tbl = build.tbl
        # WKB ships as ONE buffer + offsets: pickling many small bytes
        # objects is driver-serial time the workers re-pay on unpickle.
        # NULL geometries ship as empty ranges and come back as NULL. The
        # buffer is the Arrow column's own data, NULLs filled with b"".
        wkb = pc.fill_null(tbl["g"].combine_chunks(), b"")
        woff = np.zeros(len(wkb) + 1, dtype=np.int64)
        wbuf = b""
        if len(wkb):
            _, offs, data = wkb.buffers()
            odt = np.int64 if pa.types.is_large_binary(wkb.type) else np.int32
            woff = np.frombuffer(offs, dtype=odt)[
                wkb.offset:wkb.offset + len(wkb) + 1].astype(np.int64)
            if data is not None:
                wbuf = np.frombuffer(data, dtype=np.uint8)[
                    woff[0]:woff[-1]].tobytes()
        self.key = uuid.uuid4().hex
        self.bc = build.sc.broadcast({
            "wbuf": wbuf, "woff": woff - woff[0],
            **grid_keys(build.bb, resolution, domain, max_cells)})
        self.ids = tbl["i"].combine_chunks()
        self.id_type = build.id_type
        self.resolution = resolution
        self.domain = domain

    def load(self) -> "_Build":
        """Worker-side: the decoded build side, once per worker process."""
        got = _CACHE.get(self.key)
        if got is None:
            got = _Build(self.bc.value, self.resolution, self.domain)
            if len(_CACHE) >= _CACHE_MAX:
                _CACHE.pop(next(iter(_CACHE)))
            _CACHE[self.key] = got
        return got

    def id_values(self, rows: np.ndarray) -> np.ndarray:
        """Build ids of ``rows`` as a numpy array (for pandas output)."""
        return self.ids.take(rows).to_numpy(zero_copy_only=False)


def grid_keys(bb: np.ndarray, resolution: int, domain,
              max_cells: int = 4096) -> dict:
    """The layout of the module docstring over bboxes ``bb`` (n, 4) at
    ``resolution``: the sorted cell ``keys`` and their ``rows``, the
    ``always`` rows (over ``max_cells`` cells), and ``multi``: whether
    some keyed row spans several cells. Driver-side numpy, no job."""
    live = ~np.isnan(bb).any(axis=1)
    bb = np.nan_to_num(bb)
    i0, j0 = C._grid_ij(bb[:, 0], bb[:, 1], resolution, domain)
    i1, j1 = C._grid_ij(bb[:, 2], bb[:, 3], resolution, domain)
    cnt = (i1 - i0 + 1) * (j1 - j0 + 1)
    giant = live & (cnt > max_cells)
    keyed = np.flatnonzero(live & ~giant)
    rows, ii, jj = C.expand_rects(i0[keyed], j0[keyed], i1[keyed], j1[keyed])
    keys = ii * np.int64(1 << resolution) + jj
    order = np.argsort(keys, kind="stable")
    return {"keys": keys[order], "rows": keyed[rows][order],
            "always": np.flatnonzero(giant),
            "multi": bool(len(keyed) and cnt[keyed].max() > 1)}


class GridIndex:
    """Worker-side lookup of a ``grid_keys`` index over ``nb`` rows:
    the candidate rows of probe rectangles."""

    def __init__(self, v: dict, nb: int, resolution: int, domain):
        self.nb = nb
        self.keys, self.rows = v["keys"], v["rows"]
        self.always, self.multi = v["always"], v["multi"]
        self.empty = not (len(self.keys) or len(self.always))
        self.resolution, self.domain = resolution, domain
        self.g = 1 << resolution

    def grid_ij(self, x, y):
        return C._grid_ij(x, y, self.resolution, self.domain)

    def candidates(self, i0, i1, j0, j1, cap: int):
        """Candidate (rect, build row) pairs of grid rectangles
        [i0..i1] x [j0..j1] (already clamped to the grid), yielded in
        blocks of about ``cap`` pairs. One searchsorted range per grid
        row of each rectangle, then the always-rows. A block never splits
        one rectangle's pairs and is sorted by rect. Pairs are deduped
        only when some rectangle spans several cells and some build row
        holds several keys — otherwise no pair can repeat."""
        from ..geom.ragged import _expand_ranges

        m = len(i0)
        rect, ii, jj = C.expand_rects(i0, j0, i1, j0)
        lo = np.searchsorted(self.keys, ii * self.g + jj)
        hi = np.searchsorted(self.keys, ii * self.g + j1[rect], side="right")
        nal = len(self.always)
        per = np.bincount(rect, weights=hi - lo, minlength=m).astype(np.int64)
        csum = np.cumsum(per + nal)
        dedup = self.multi and bool(((i1 > i0) | (j1 > j0)).any())
        ga = 0
        while ga < m:
            prev = csum[ga - 1] if ga else 0
            gz = int(np.searchsorted(csum, prev + cap, side="right"))
            gz = min(max(gz, ga + 1), m)
            a, b = np.searchsorted(rect, [ga, gz])
            li = np.repeat(rect[a:b], hi[a:b] - lo[a:b])
            bi = self.rows[_expand_ranges(lo[a:b], hi[a:b])]
            if nal:
                li = np.concatenate([li, np.repeat(np.arange(ga, gz), nal)])
                bi = np.concatenate([bi, np.tile(self.always, gz - ga)])
            if dedup:
                key = np.unique(li * np.int64(self.nb) + bi)
                li, bi = key // self.nb, key % self.nb
            elif nal:
                o = np.argsort(li, kind="stable")
                li, bi = li[o], bi[o]
            if len(li):
                yield li, bi
            ga = gz

    def bbox_candidates(self, bb: np.ndarray, cap: int):
        """``candidates`` of probe bboxes (n, 4); NaN rows (null or empty
        probe geometries) get none. Yields (probe row, build row)."""
        ok = np.flatnonzero(~np.isnan(bb[:, 0]))
        i0, j0 = self.grid_ij(bb[ok, 0], bb[ok, 1])
        i1, j1 = self.grid_ij(bb[ok, 2], bb[ok, 3])
        for li, bi in self.candidates(i0, i1, j0, j1, cap):
            yield ok[li], bi


class _Build(GridIndex):
    """Decoded build side on a worker: geometry batch, nan-zeroed bounds,
    WKB per row (one Arrow array), and its ``GridIndex``."""

    def __init__(self, v: dict, resolution: int, domain):
        import pyarrow as pa

        from ..geom.kernels import bounds
        from ..geom.wkb import from_wkb

        # one Arrow binary array over the shipped buffer; an empty range
        # is a NULL geometry
        woff = v["woff"]
        nb = len(woff) - 1
        valid = np.diff(woff) > 0
        self.wkb = pa.Array.from_buffers(
            pa.large_binary(), nb,
            [pa.py_buffer(np.packbits(valid, bitorder="little")),
             pa.py_buffer(woff), pa.py_buffer(v["wbuf"])],
            null_count=int(nb - valid.sum()))
        self.batch = from_wkb(self.wkb.to_numpy(zero_copy_only=False))
        self.bounds = np.nan_to_num(bounds(self.batch))
        super().__init__(v, nb, resolution, domain)

    @cached_property
    def puntal(self) -> bool:
        """Every build row is a single point (kNN's sqrt fast path)."""
        from ..geom.ragged import POINT

        b = self.batch
        return bool(len(b.types) and (b.types == POINT).all()
                    and (b.n_coords_per_geom() == 1).all())

    @cached_property
    def segs(self):
        """Flat segment soup (ax, ay, dx, dy, L2, per-row CSR offsets) of
        an all-lineal build, else None: kNN's point probe then prices a
        lineal build in one vectorized point-to-segment pass instead of
        the general ragged pairwise kernel (measured 4x slower end to end
        on the nearest_line shape). The formula is point_segment_dist2's,
        so distances stay bit-identical to pairwise_distance. Missing
        (type 0) and EMPTY lineal rows carry zero segments and price as
        inf, as pairwise_distance's nan -> inf does."""
        from ..geom.predicates import _pair_edges
        from ..geom.ragged import LINESTRING, MULTILINESTRING

        b = self.batch
        if not (len(b.types) and (np.isin(b.types, (LINESTRING, MULTILINESTRING))
                                  | b.is_missing()).all()):
            return None
        x0, y0, x1, y1, e_geom = _pair_edges(
            b, np.arange(self.nb, dtype=np.int64))
        segoff = np.zeros(self.nb + 1, dtype=np.int64)
        np.cumsum(np.bincount(e_geom, minlength=self.nb), out=segoff[1:])
        sdx = x1 - x0
        sdy = y1 - y0
        return (np.ascontiguousarray(x0), np.ascontiguousarray(y0),
                sdx, sdy, sdx * sdx + sdy * sdy, segoff)
