"""Quadtree cell index ("qcell") — the engine's distributed spatial index.

Replaces the reference's driver-side STRtree (sindex.py:11-24) with a
*global* index that survives distribution: every geometry gets a cover of
quadtree cells; a spatial join becomes an equi-join on cell ids (SURVEY.md
§2.4, §4). Analogous to H3/S2 cell covers, built from scratch in numpy
(no native libs in this environment).

Cell id layout (int64, always positive):
    id = (res << 56) | morton
    res    in [0, 26]
    morton = bit-interleave(i, j), i = column, j = row at 2^res grid
             over a configurable rectangular domain.

Properties used by the engine:
* parent(id)    = ((res-1) << 56) | (morton >> 2)
* children(id)  = morton*4 + {0,1,2,3} at res+1
* all descendants of a cell at res r' occupy one contiguous morton range
  -> Parquet/Iceberg-style min/max pruning works on the raw int64 column.
* neighbors via de-interleave, +-1, clamp (grid_disk for kNN ring search).

All functions are vectorized numpy over arrays of points/boxes/ids.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26
_RES_SHIFT = 56
_MORTON_MASK = (1 << _RES_SHIFT) - 1

DOMAIN_UNIT = (0.0, 0.0, 1.0, 1.0)
DOMAIN_WORLD = (-180.0, -90.0, 180.0, 90.0)


def _spread_bits32(v: np.ndarray) -> np.ndarray:
    """Spread the low 28 bits of v so there is a 0 bit between each
    (uint64 in/out) — standard Morton magic numbers."""
    v = v.astype(np.uint64)
    v &= np.uint64((1 << 28) - 1)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact_bits32(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def morton_encode(i: np.ndarray, j: np.ndarray) -> np.ndarray:
    return (_spread_bits32(i) | (_spread_bits32(j) << np.uint64(1))).astype(np.int64)


def morton_decode(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    m = m.astype(np.uint64)
    return (
        _compact_bits32(m).astype(np.int64),
        _compact_bits32(m >> np.uint64(1)).astype(np.int64),
    )


def _grid_ij(x, y, res: int, domain) -> tuple[np.ndarray, np.ndarray]:
    x0, y0, x1, y1 = domain
    n = 1 << res
    fx = (np.asarray(x, dtype=np.float64) - x0) / (x1 - x0)
    fy = (np.asarray(y, dtype=np.float64) - y0) / (y1 - y0)
    i = np.clip(np.floor(fx * n).astype(np.int64), 0, n - 1)
    j = np.clip(np.floor(fy * n).astype(np.int64), 0, n - 1)
    return i, j


def pack(res: int, morton: np.ndarray) -> np.ndarray:
    return (np.int64(res) << np.int64(_RES_SHIFT)) | morton


def cell_res(ids: np.ndarray) -> np.ndarray:
    return (np.asarray(ids, dtype=np.int64) >> np.int64(_RES_SHIFT)).astype(np.int8)


def cell_morton(ids: np.ndarray) -> np.ndarray:
    return np.asarray(ids, dtype=np.int64) & np.int64(_MORTON_MASK)


def point_cell(x, y, res: int, domain=DOMAIN_UNIT) -> np.ndarray:
    """Cell of each point at res (vectorized)."""
    i, j = _grid_ij(x, y, res, domain)
    return pack(res, morton_encode(i, j))


def cell_ij(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (res, i, j) arrays."""
    r = cell_res(ids)
    i, j = morton_decode(cell_morton(ids))
    return r, i, j


def cell_bounds(ids: np.ndarray, domain=DOMAIN_UNIT) -> np.ndarray:
    """(n,4) minx,miny,maxx,maxy of each cell."""
    x0, y0, x1, y1 = domain
    r, i, j = cell_ij(np.asarray(ids, dtype=np.int64))
    n = (np.int64(1) << r.astype(np.int64)).astype(np.float64)
    w = (x1 - x0) / n
    h = (y1 - y0) / n
    return np.column_stack([x0 + i * w, y0 + j * h, x0 + (i + 1) * w, y0 + (j + 1) * h])


def grid_disk(ids: np.ndarray, k: int = 1) -> np.ndarray:
    """(n, (2k+1)^2) neighbor cells within Chebyshev distance k (clamped at
    the domain edge -> duplicates possible; callers dedupe). Same role as
    h3.grid_disk in the kNN ring expansion (SURVEY.md §2.4 sjoin_nearest)."""
    ids = np.asarray(ids, dtype=np.int64)
    r, i, j = cell_ij(ids)
    n = (np.int64(1) << r.astype(np.int64))
    offs = np.arange(-k, k + 1, dtype=np.int64)
    oi = np.repeat(offs, 2 * k + 1)
    oj = np.tile(offs, 2 * k + 1)
    ii = np.clip(i[:, None] + oi[None, :], 0, (n - 1)[:, None])
    jj = np.clip(j[:, None] + oj[None, :], 0, (n - 1)[:, None])
    m = morton_encode(ii.ravel(), jj.ravel()).reshape(ii.shape)
    return (r.astype(np.int64)[:, None] << np.int64(_RES_SHIFT)) | m


def bbox_cover_counts(minx, miny, maxx, maxy, res: int, domain=DOMAIN_UNIT):
    """Number of res-level cells covering each bbox (vectorized) — used for
    adaptive-resolution planning and as a pure-SQL-checkable quantity."""
    i0, j0 = _grid_ij(minx, miny, res, domain)
    i1, j1 = _grid_ij(maxx, maxy, res, domain)
    return (i1 - i0 + 1) * (j1 - j0 + 1)


def _cover_rects(minx, miny, maxx, maxy, res: int, domain, max_cells: int):
    """(per-row res, i0, j0, i1, j1): each bbox's grid rectangle at
    ``res``, coarsened one level at a time while it spans more than
    ``max_cells`` cells. A level down is a right shift of the grid
    coords, which equals ``_grid_ij`` at that level exactly (the grid
    sizes are powers of two)."""
    i0, j0 = _grid_ij(minx, miny, res, domain)
    i1, j1 = _grid_ij(maxx, maxy, res, domain)
    res_row = np.full(len(i0), res, dtype=np.int64)
    while True:
        over = ((i1 - i0 + 1) * (j1 - j0 + 1) > max_cells).astype(np.int64)
        if not over.any():
            return res_row, i0, j0, i1, j1
        res_row -= over
        i0, j0, i1, j1 = i0 >> over, j0 >> over, i1 >> over, j1 >> over


def expand_rects(i0, j0, i1, j1) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every grid cell of each rectangle [i0..i1] x [j0..j1] as flat
    (row, i, j) arrays, i-major within a rectangle — one repeat/arange
    expand, no per-row loop. Shared by ``bbox_cover`` and the broadcast
    build index (operators/_buildindex.py)."""
    i0, j0 = np.asarray(i0, dtype=np.int64), np.asarray(j0, dtype=np.int64)
    nj = np.asarray(j1, dtype=np.int64) - j0 + 1
    cnt = (np.asarray(i1, dtype=np.int64) - i0 + 1) * nj
    rows = np.repeat(np.arange(len(cnt), dtype=np.int64), cnt)
    within = (np.arange(int(cnt.sum()), dtype=np.int64)
              - np.repeat(np.cumsum(cnt) - cnt, cnt))
    di = within // nj[rows]
    return rows, i0[rows] + di, j0[rows] + (within - di * nj[rows])


def bbox_cover(minx, miny, maxx, maxy, res: int, domain=DOMAIN_UNIT,
               max_cells: int = 4096) -> tuple[np.ndarray, np.ndarray]:
    """Full (non-compact) cover at res of each bbox.

    Returns (flat_ids int64[T], offsets int64[n+1]) ragged output. Rows
    whose cover would exceed ``max_cells`` fall back to progressively
    coarser resolutions for *that row only* — those rows' cells have a
    smaller res in the id. This is ``st_cells``' cover; the joins cover
    at one resolution and treat such a row as a giant instead
    (operators/_planner.py).
    """
    res_row, i0, j0, i1, j1 = _cover_rects(minx, miny, maxx, maxy, res,
                                           domain, max_cells)
    rows, ii, jj = expand_rects(i0, j0, i1, j1)
    flat = (res_row[rows] << np.int64(_RES_SHIFT)) | morton_encode(ii, jj)
    offsets = np.zeros(len(i0) + 1, dtype=np.int64)
    np.cumsum((i1 - i0 + 1) * (j1 - j0 + 1), out=offsets[1:])
    return flat, offsets


def compact_cover(flat: np.ndarray, offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Compact each row's cover: any complete sibling quad merges into its
    parent, recursively (H3 ``compact_cells`` analogue). Input/output are
    ragged (flat ids, offsets). Ids within a row must share one res."""
    out_parts: list[np.ndarray] = []
    out_counts = np.zeros(len(offsets) - 1, dtype=np.int64)
    for rix in range(len(offsets) - 1):
        ids = np.sort(flat[offsets[rix] : offsets[rix + 1]])
        if len(ids) == 0:
            out_counts[rix] = 0
            continue
        keep: list[np.ndarray] = []
        cur = ids
        while len(cur) >= 4 and cell_res(cur[:1])[0] > 0:
            m = cell_morton(cur)
            base = m >> np.int64(2)
            # complete quads: 4 consecutive ids with same parent and all
            # four child slots present
            u, counts = np.unique(base, return_counts=True)
            full = u[counts == 4]
            is_merged = np.isin(base, full)
            keep.append(cur[~is_merged])
            if not len(full):
                cur = cur[:0]
                break
            r = int(cell_res(cur[:1])[0])
            cur = pack(r - 1, np.sort(full))
        keep.append(cur)
        row = np.concatenate(keep) if keep else cur
        out_parts.append(np.sort(row))
        out_counts[rix] = len(row)
    new_off = np.zeros(len(offsets), dtype=np.int64)
    np.cumsum(out_counts, out=new_off[1:])
    new_flat = (np.concatenate(out_parts) if out_parts
                else np.empty(0, dtype=np.int64))
    return new_flat, new_off


def cell_size(res: int, domain=DOMAIN_UNIT) -> tuple[float, float]:
    x0, y0, x1, y1 = domain
    n = 1 << res
    return (x1 - x0) / n, (y1 - y0) / n


def pick_resolution(avg_w: float, avg_h: float, domain=DOMAIN_UNIT,
                    target_cells: float = 1.0) -> int:
    """Resolution where an average bbox spans ~target_cells cells per axis.

    The distributed analogue of STRtree node sizing: too fine -> cell-join
    explosion; too coarse -> refine does all the work.
    """
    x0, y0, x1, y1 = domain
    ext = max(x1 - x0, y1 - y0)
    avg = max(avg_w, avg_h, 1e-300)
    res = int(np.floor(np.log2(ext * target_cells / avg)))
    return int(np.clip(res, 0, MAX_RES))
