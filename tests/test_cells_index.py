"""Quadtree cell index invariants (the engine's global spatial index)."""

import numpy as np

from geopandas_spark.index import cells as C


def test_morton_roundtrip():
    rng = np.random.default_rng(0)
    i = rng.integers(0, 1 << 26, 5000)
    j = rng.integers(0, 1 << 26, 5000)
    m = C.morton_encode(i, j)
    i2, j2 = C.morton_decode(m)
    assert (i == i2).all() and (j == j2).all()
    assert (m >= 0).all()


def test_point_cell_containment():
    rng = np.random.default_rng(1)
    x, y = rng.random(2000), rng.random(2000)
    for res in (0, 4, 12, 26):
        ids = C.point_cell(x, y, res)
        b = C.cell_bounds(ids)
        assert ((x >= b[:, 0]) & (x < b[:, 2]) & (y >= b[:, 1]) & (y < b[:, 3])).all()
        assert (C.cell_res(ids) == res).all()


def test_parent_prefix_range():
    rng = np.random.default_rng(2)
    x, y = rng.random(500), rng.random(500)
    child = C.point_cell(x, y, 10)
    par = C.pack(7, C.cell_morton(child) >> 6)
    # morton prefix property: child morton >> 6 == parent morton
    assert (C.cell_morton(child) >> 6 == C.cell_morton(par)).all()
    pb = C.cell_bounds(par)
    cb = C.cell_bounds(child)
    assert ((cb[:, 0] >= pb[:, 0]) & (cb[:, 2] <= pb[:, 2])).all()


def test_cover_and_compact():
    flat, off = C.bbox_cover(
        np.array([0.0]), np.array([0.0]), np.array([0.999]), np.array([0.999]), 3)
    assert off[1] == 64  # full res-3 grid
    cf, co = C.compact_cover(flat, off)
    assert co[1] == 1 and C.cell_res(cf)[0] == 0  # merges to the root cell


def test_cover_counts_match_cover():
    rng = np.random.default_rng(3)
    minx = rng.random(100) * 0.8
    miny = rng.random(100) * 0.8
    maxx = minx + rng.random(100) * 0.2
    maxy = miny + rng.random(100) * 0.2
    cnt = C.bbox_cover_counts(minx, miny, maxx, maxy, 6)
    flat, off = C.bbox_cover(minx, miny, maxx, maxy, 6)
    assert (np.diff(off) == cnt).all()


def test_cover_contains_geometry_cells():
    """Any point inside the bbox lands in a cover cell (join soundness)."""
    rng = np.random.default_rng(4)
    for _ in range(20):
        x0, y0 = rng.random(2) * 0.5
        w, h = rng.random(2) * 0.3
        flat, off = C.bbox_cover(np.array([x0]), np.array([y0]),
                                 np.array([x0 + w]), np.array([y0 + h]), 7)
        cover = set(flat.tolist())
        px = x0 + rng.random(50) * w
        py = y0 + rng.random(50) * h
        pc = C.point_cell(px, py, 7)
        assert set(pc.tolist()) <= cover


def test_max_cells_guard_lowers_resolution():
    flat, off = C.bbox_cover(
        np.array([0.0]), np.array([0.0]), np.array([1.0]), np.array([1.0]),
        10, max_cells=16)
    assert off[1] <= 16
    assert C.cell_res(flat[:1])[0] < 10


def test_grid_disk():
    c = C.point_cell(np.array([0.5]), np.array([0.5]), 5)
    d1 = C.grid_disk(c, 1)
    assert d1.shape == (1, 9)
    assert len(np.unique(d1)) == 9
    # disk at the domain corner clamps (duplicates allowed)
    corner = C.point_cell(np.array([0.0]), np.array([0.0]), 5)
    dc = C.grid_disk(corner, 1)
    assert len(np.unique(dc)) == 4


def test_pick_resolution():
    # avg bbox 1/16 of the unit domain -> res 4
    assert C.pick_resolution(1 / 16, 1 / 16) == 4
    assert C.pick_resolution(1.0, 1.0) == 0
    assert C.pick_resolution(1e-30, 1e-30) == C.MAX_RES


def test_bbox_cover_matches_per_row_reference():
    """bbox_cover equals a per-row reference cover on mixed-resolution
    input (max_cells=16 coarsens the larger boxes), cells in the same
    order."""
    rng = np.random.default_rng(6)
    n = 300
    minx = rng.random(n) * 0.9
    miny = rng.random(n) * 0.9
    ext = np.where(rng.random(n) < 0.3, 0.5, 0.02) * rng.random((2, n))
    maxx, maxy = minx + ext[0], miny + ext[1]
    minx[:3] = [-0.2, 0.0, 0.5]  # out of domain / zero-width rows
    maxx[:3] = [1.3, 0.0, 0.5]
    flat, off = C.bbox_cover(minx, miny, maxx, maxy, 8, max_cells=16)

    res = []
    want = []
    for k in range(n):
        r = 9
        while True:  # the finest res <= 8 where the row spans <= 16 cells
            r -= 1
            (i0,), (j0,) = C._grid_ij([minx[k]], [miny[k]], r, C.DOMAIN_UNIT)
            (i1,), (j1,) = C._grid_ij([maxx[k]], [maxy[k]], r, C.DOMAIN_UNIT)
            if (i1 - i0 + 1) * (j1 - j0 + 1) <= 16:
                break
        res.append(r)
        ii = np.repeat(np.arange(i0, i1 + 1), j1 - j0 + 1)
        jj = np.tile(np.arange(j0, j1 + 1), i1 - i0 + 1)
        want.append(C.pack(r, C.morton_encode(ii, jj)))
    assert len(set(res)) > 2
    assert off[-1] == sum(len(w) for w in want)
    for k in range(n):
        assert np.array_equal(flat[off[k]:off[k + 1]], want[k])
        assert len(want[k]) <= 16


def _fine_split(bb, res, max_cells):
    """One-resolution cover of bboxes ``bb`` (n, 4): (row, cell) pairs of
    the rows covering at most ``max_cells`` cells, and the giant rows.
    A NaN row is in neither."""
    live = ~np.isnan(bb).any(axis=1)
    bz = np.nan_to_num(bb)
    i0, j0 = C._grid_ij(bz[:, 0], bz[:, 1], res, C.DOMAIN_UNIT)
    i1, j1 = C._grid_ij(bz[:, 2], bz[:, 3], res, C.DOMAIN_UNIT)
    cnt = (i1 - i0 + 1) * (j1 - j0 + 1)
    giant = live & (cnt > max_cells)
    keep = np.flatnonzero(live & ~giant)
    rows, ii, jj = C.expand_rects(i0[keep], j0[keep], i1[keep], j1[keep])
    return keep[rows], C.pack(res, C.morton_encode(ii, jj)), giant


def _overlap(a, b):
    return ((a[:, None, 0] <= b[None, :, 2]) & (b[None, :, 0] <= a[:, None, 2])
            & (a[:, None, 1] <= b[None, :, 3]) & (b[None, :, 1] <= a[:, None, 3]))


def _giant_index_pairs(sbb, gbb, gres, max_cells):
    """(stream row, giant row) pairs of overlapping bboxes, looked up as
    the giant pass does: the giants keyed by ``grid_keys`` at ``gres``,
    the stream rows probing them in small candidate blocks."""
    from geopandas_spark.operators._buildindex import GridIndex, grid_keys

    index = GridIndex(grid_keys(gbb, gres, C.DOMAIN_UNIT, max_cells),
                      len(gbb), gres, C.DOMAIN_UNIT)
    out = []
    for si, gi in index.bbox_candidates(sbb, 7):
        a, b = sbb[si], gbb[gi]
        ok = ((a[:, 0] <= b[:, 2]) & (b[:, 0] <= a[:, 2])
              & (a[:, 1] <= b[:, 3]) & (b[:, 1] <= a[:, 3]))
        out += zip(si[ok], gi[ok])
    return out


def test_fine_grid_giant_split_emits_each_pair_once():
    """The shuffle join's one-resolution scheme, in numpy: rows meet in
    the cells of one fine grid and a pair is kept only in the cell of
    (max minx, max miny); giant rows (over ``max_cells``) skip the cells
    and pair through a grid index of their own at a coarser resolution
    (``_buildindex.grid_keys``, its own always-rows included), every
    left row against the right giants and every right non-giant row
    against the left giants. On
    random bboxes with grid-snapped (touching) edges, boxes on and beyond
    the domain edge, NaN rows and giants on both sides, every
    bbox-overlapping pair (the left bbox padded) comes out exactly
    once."""
    rng = np.random.default_rng(13)
    both = 0
    for trial in range(40):
        res = int(rng.integers(2, 9))
        max_cells = int(rng.choice([1, 8, 64, 4096]))
        pad = float(rng.choice([0.0, 0.01]))
        sides = []
        for n in rng.integers(5, 60, 2):
            lo = rng.random((n, 2)) * 1.2 - 0.1
            ext = rng.random((n, 2)) ** 3 * rng.choice([0.05, 0.5, 1.2])
            bb = np.hstack([lo, lo + ext])
            snap = rng.random(n) < 0.3  # edges on grid lines
            bb[snap] = np.round(bb[snap] * (1 << res)) / (1 << res)
            bb[rng.random(n) < 0.05] = np.nan
            bb[rng.integers(n)] = [-0.2, 0.0, 1.0, 1.3]  # a giant
            sides.append(bb)
        lbb = sides[0] + np.array([-pad, -pad, pad, pad])
        rbb = sides[1]
        lrow, lcell, lgiant = _fine_split(lbb, res, max_cells)
        rrow, rcell, rgiant = _fine_split(rbb, res, max_cells)
        got = []
        # cell join with the reference-point rule
        for c in np.intersect1d(lcell, rcell):
            for a in lrow[lcell == c]:
                for b in rrow[rcell == c]:
                    if not _overlap(lbb[a:a + 1], rbb[b:b + 1])[0, 0]:
                        continue
                    ref = C.point_cell(max(lbb[a, 0], rbb[b, 0]),
                                       max(lbb[a, 1], rbb[b, 1]), res,
                                       C.DOMAIN_UNIT)
                    if ref == c:
                        got.append((a, b))
        # giant passes, the giants keyed on a coarser grid of their own
        gres = int(rng.integers(0, res + 1))
        gcells = int(rng.choice([1, 4, 4096]))
        rg = np.flatnonzero(rgiant)
        got += [(a, rg[b]) for a, b in _giant_index_pairs(
            lbb, rbb[rg], gres, gcells)]
        lg = np.flatnonzero(lgiant)
        rn = np.flatnonzero(~rgiant)
        got += [(lg[b], rn[a]) for a, b in _giant_index_pairs(
            rbb[rn], lbb[lg], gres, gcells)]
        want = set(zip(*np.nonzero(_overlap(lbb, rbb))))
        assert len(got) == len(set(got)), trial
        assert set(got) == want, trial
        both += bool(lgiant.any() and rgiant.any())
    assert both >= 10
