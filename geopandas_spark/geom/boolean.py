"""General polygon boolean operations — Martinez–Rueda–Feito sweep.

Implements the plane-sweep boolean algorithm of Martinez, Rueda & Feito
("A new algorithm for computing Boolean operations on polygons", Computers
& Geosciences 2009, with the 2013 extension for degenerate/overlapping
edges) from the published description. Supports ``intersection``,
``union``, ``difference`` and ``xor`` of arbitrary polygons/multipolygons
with holes, including shared edges and vertex-touching inputs.

This replaces GEOS overlay for the engine (reference ops
``intersection/union/difference/symmetric_difference``,
/root/reference/geopandas/base.py:3852-4305, and ``overlay``,
tools/overlay.py:89-208). Inputs/outputs are lists of rings
(ndarray (k,2), closed); holes are any ring whose area orientation says
so after assembly — we classify by containment parity.

Complexity O((n+k) log n); pairs in this engine are small (features, not
layers), so the per-pair Python overhead is acceptable; the rectilinear /
convex fast paths in clipping.py stay the hot path.
"""

from __future__ import annotations

import heapq
import math

import numpy as np

# edge annotation types
NORMAL = 0
NON_CONTRIBUTING = 1
SAME_TRANSITION = 2
DIFFERENT_TRANSITION = 3

SUBJECT = 0
CLIPPING = 1

INTERSECTION = "intersection"
UNION = "union"
DIFFERENCE = "difference"
XOR = "xor"


class _Event:
    __slots__ = ("p", "left", "other", "pol", "etype", "in_out",
                 "other_in_out", "prev_in_result", "in_result", "pos",
                 "result_in_out", "contour_id", "processed", "seq")

    def __init__(self, p, left, pol):
        self.p = p                  # (x, y)
        self.left = left            # is left endpoint
        self.other = None           # the twin event
        self.pol = pol              # SUBJECT | CLIPPING
        self.etype = NORMAL
        self.in_out = False
        self.other_in_out = False
        self.prev_in_result = None
        self.in_result = False
        self.pos = 0
        self.result_in_out = False
        self.contour_id = -1
        self.processed = False
        self.seq = 0

    def segment(self):
        return self.p, self.other.p

    def below(self, x):
        a, b = self.p, self.other.p
        return _signed_area(a, b, x) > 0 if self.left else _signed_area(b, a, x) > 0

    def above(self, x):
        return not self.below(x)

    def vertical(self):
        return self.p[0] == self.other.p[0]


def _signed_area(p0, p1, p2):
    return (p0[0] - p2[0]) * (p1[1] - p2[1]) - (p1[0] - p2[0]) * (p0[1] - p2[1])


def _compare_events(e1: _Event, e2: _Event) -> bool:
    """True if e1 should be processed AFTER e2 (i.e. e1 > e2)."""
    if e1.p[0] > e2.p[0]:
        return True
    if e1.p[0] < e2.p[0]:
        return False
    if e1.p[1] != e2.p[1]:
        return e1.p[1] > e2.p[1]
    if e1.left != e2.left:         # right endpoint first
        return e1.left
    # same point, both same side: the one above comes later
    if _signed_area(e1.p, e1.other.p, e2.other.p) != 0:
        return e1.above(e2.other.p)
    return e1.pol > e2.pol


class _EventHeap:
    def __init__(self):
        self._h = []
        self._n = 0

    def push(self, e: _Event):
        self._n += 1
        e.seq = self._n
        heapq.heappush(self._h, (_EventKey(e), e))

    def pop(self) -> _Event:
        return heapq.heappop(self._h)[1]

    def __len__(self):
        return len(self._h)


class _EventKey:
    __slots__ = ("e",)

    def __init__(self, e):
        self.e = e

    def __lt__(self, o):
        if self.e is o.e:
            return False
        return _compare_events(o.e, self.e)


def _compare_segments(e1: _Event, e2: _Event) -> bool:
    """Status-line order: True if e1 is below e2."""
    if e1 is e2:
        return False
    a1 = _signed_area(e1.p, e1.other.p, e2.p)
    a2 = _signed_area(e1.p, e1.other.p, e2.other.p)
    if a1 != 0 or a2 != 0:
        # segments not collinear
        if e1.p == e2.p:
            return e1.below(e2.other.p)
        if _compare_events(e1, e2):   # e1 processed after e2
            return e2.above(e1.p)
        return e1.below(e2.p)
    # collinear
    if e1.pol != e2.pol:
        return e1.pol < e2.pol
    if e1.p == e2.p:
        return e1.seq < e2.seq
    return _compare_events(e2, e1)


def _find_intersection(a1, a2, b1, b2):
    """Segment intersection -> (count, p0, p1). count 0/1/2 (2=overlap)."""
    d1 = (a2[0] - a1[0], a2[1] - a1[1])
    d2 = (b2[0] - b1[0], b2[1] - b1[1])
    denom = d1[0] * d2[1] - d1[1] * d2[0]
    ex = (b1[0] - a1[0], b1[1] - a1[1])
    if denom != 0:
        s = (ex[0] * d2[1] - ex[1] * d2[0]) / denom
        t = (ex[0] * d1[1] - ex[1] * d1[0]) / denom
        eps = 1e-12
        if -eps <= s <= 1 + eps and -eps <= t <= 1 + eps:
            s = min(max(s, 0.0), 1.0)
            p = (a1[0] + s * d1[0], a1[1] + s * d1[1])
            # snap to endpoints for robustness
            for q in (a1, a2, b1, b2):
                if abs(p[0] - q[0]) < 1e-13 and abs(p[1] - q[1]) < 1e-13:
                    p = q
                    break
            return 1, p, None
        return 0, None, None
    # parallel
    cross = ex[0] * d1[1] - ex[1] * d1[0]
    if cross != 0:
        return 0, None, None
    # collinear: project on the dominant axis
    axis = 0 if abs(d1[0]) >= abs(d1[1]) else 1
    amin, amax = sorted((a1[axis], a2[axis]))
    bmin, bmax = sorted((b1[axis], b2[axis]))
    lo = max(amin, bmin)
    hi = min(amax, bmax)
    if lo > hi:
        return 0, None, None

    def at(v):
        if d1[axis] == 0:
            return a1
        t = (v - a1[axis]) / d1[axis]
        return (a1[0] + t * d1[0], a1[1] + t * d1[1])

    if lo == hi:
        return 1, at(lo), None
    return 2, at(lo), at(hi)


class _Sweep:
    def __init__(self, subject, clipping, op):
        self.op = op
        self.queue = _EventHeap()
        self.sorted_events = []
        self.subject = subject
        self.clipping = clipping

    # -- queue construction -------------------------------------------------
    def _add_segment(self, p0, p1, pol):
        if p0 == p1:
            return
        e0 = _Event(p0, True, pol)
        e1 = _Event(p1, True, pol)
        e0.other = e1
        e1.other = e0
        if _compare_events(e0, e1):   # e0 after e1 -> e1 is the left one
            e0.left = False
        else:
            e1.left = False
        self.queue.push(e0)
        self.queue.push(e1)

    def _fill(self):
        for rings, pol in ((self.subject, SUBJECT), (self.clipping, CLIPPING)):
            for ring in rings:
                pts = [tuple(map(float, p)) for p in ring]
                if len(pts) >= 2 and pts[0] != pts[-1]:
                    pts.append(pts[0])
                for i in range(len(pts) - 1):
                    self._add_segment(pts[i], pts[i + 1], pol)

    # -- flags --------------------------------------------------------------
    def _compute_fields(self, e: _Event, prev: _Event | None):
        if prev is None:
            e.in_out = False
            e.other_in_out = True
        elif e.pol == prev.pol:
            e.in_out = not prev.in_out
            e.other_in_out = prev.other_in_out
        else:
            e.in_out = not prev.other_in_out
            e.other_in_out = prev.in_out if not prev.vertical() else not prev.in_out
        if prev is not None:
            e.prev_in_result = (
                prev if (self._in_result(prev) and not prev.vertical())
                else prev.prev_in_result)
        e.in_result = self._in_result(e)

    def _in_result(self, e: _Event) -> bool:
        if e.etype == NORMAL:
            if self.op == INTERSECTION:
                return not e.other_in_out
            if self.op == UNION:
                return e.other_in_out
            if self.op == DIFFERENCE:
                return (e.pol == SUBJECT and e.other_in_out) or \
                       (e.pol == CLIPPING and not e.other_in_out)
            return True  # XOR
        if e.etype == SAME_TRANSITION:
            return self.op in (INTERSECTION, UNION)
        if e.etype == DIFFERENT_TRANSITION:
            return self.op == DIFFERENCE
        return False  # NON_CONTRIBUTING

    # -- intersections ------------------------------------------------------
    def _possible_intersection(self, e1: _Event, e2: _Event) -> int:
        n, p0, p1 = _find_intersection(e1.p, e1.other.p, e2.p, e2.other.p)
        if n == 0:
            return 0
        if n == 1 and (e1.p == e2.p or e1.other.p == e2.other.p):
            return 0  # share an endpoint only
        if n == 1:
            if e1.p != p0 and e1.other.p != p0:
                self._divide(e1, p0)
            if e2.p != p0 and e2.other.p != p0:
                self._divide(e2, p0)
            return 1
        # overlapping collinear segments
        events = []
        left_coincide = e1.p == e2.p
        right_coincide = e1.other.p == e2.other.p
        if not left_coincide:
            events.append((e1, e2) if _compare_events(e1, e2) else (e2, e1))
        if not right_coincide:
            events.append(
                (e1.other, e2.other)
                if _compare_events(e1.other, e2.other) else (e2.other, e1.other))
        if left_coincide:
            # segments share the left endpoint
            e2.etype = NON_CONTRIBUTING
            e1.etype = (SAME_TRANSITION if e2.in_out == e1.in_out
                        else DIFFERENT_TRANSITION)
            if not right_coincide:
                later, earlier = (
                    (e1, e2) if _compare_events(e1.other, e2.other) else (e2, e1))
                # earlier's right end splits later
                self._divide(later, earlier.other.p)
            return 2
        if right_coincide:
            later, earlier = (
                (e2, e1) if _compare_events(e1, e2) else (e1, e2))
            self._divide(later, earlier.p)
            return 3
        if events and events[0][0] is not events[-1][1]:
            # no common endpoint: one splits twice or each splits once
            first_later = events[0][0]
            last_earlier = events[-1][1]
            if first_later is last_earlier:
                pass
            # generic: split e1 at e2 endpoints inside it and vice versa
        # fall back: split each segment at the other's endpoints that lie
        # strictly inside it
        for seg, other in ((e1, e2), (e2, e1)):
            for q in (other.p, other.other.p):
                if q != seg.p and q != seg.other.p and _between(seg.p, seg.other.p, q):
                    self._divide(seg, q)
        return 3

    def _divide(self, e: _Event, p):
        r = _Event(p, False, e.pol)
        l = _Event(p, True, e.pol)
        r.other = e
        l.other = e.other
        # the remainder is its own segment: overlap/transition flags do
        # NOT carry over (its fields are computed when it is popped)
        e.other.other = l
        e.other = r
        self.queue.push(l)
        self.queue.push(r)

    # -- main loop ----------------------------------------------------------
    def run(self):
        self._fill()
        status: list[_Event] = []
        while len(self.queue):
            e = self.queue.pop()
            self.sorted_events.append(e)
            if e.left:
                # insert into status keeping below-order
                idx = 0
                while idx < len(status) and _compare_segments(status[idx], e):
                    idx += 1
                status.insert(idx, e)
                prev = status[idx - 1] if idx > 0 else None
                nxt = status[idx + 1] if idx + 1 < len(status) else None
                self._compute_fields(e, prev)
                if nxt is not None:
                    if self._possible_intersection(e, nxt) == 2:
                        self._compute_fields(e, prev)
                        self._compute_fields(nxt, e)
                if prev is not None:
                    if self._possible_intersection(prev, e) == 2:
                        pprev = status[idx - 2] if idx > 1 else None
                        self._compute_fields(prev, pprev)
                        self._compute_fields(e, prev)
            else:
                le = e.other
                if le in status:
                    idx = status.index(le)
                    prev = status[idx - 1] if idx > 0 else None
                    nxt = status[idx + 1] if idx + 1 < len(status) else None
                    status.pop(idx)
                    if prev is not None and nxt is not None:
                        self._possible_intersection(prev, nxt)
        return self._connect_edges()

    # -- result assembly ----------------------------------------------------
    def _connect_edges(self):
        """Canonical Martinez connect: walk twin pointers, at each vertex
        continue with an unprocessed result event sharing that point."""
        result = [e for e in self.sorted_events
                  if (e.left and e.in_result) or (not e.left and e.other.in_result)]
        # sort (splits may have disordered the capture order)
        import functools

        result.sort(key=functools.cmp_to_key(
            lambda a, b: 1 if _compare_events(a, b) else (-1 if _compare_events(b, a) else 0)))
        for i, e in enumerate(result):
            e.pos = i

        def next_pos(pos, processed, orig_point):
            j = pos + 1
            while j < len(result) and result[j].p == orig_point:
                if not processed[j]:
                    return j
                j += 1
            j = pos - 1
            while j >= 0:
                if not processed[j] and result[j].p == orig_point:
                    return j
                j -= 1
            return -1

        contours = []
        processed = [False] * len(result)
        for i in range(len(result)):
            if processed[i]:
                continue
            initial = result[i].p
            contour = [initial]
            pos = i
            while True:
                processed[pos] = True
                e = result[pos]
                twin_pos = e.other.pos
                processed[twin_pos] = True
                contour.append(e.other.p)
                if e.other.p == initial:
                    break
                pos = next_pos(twin_pos, processed, e.other.p)
                if pos == -1:
                    break
            if contour[0] != contour[-1]:
                contour.append(contour[0])
            if len(contour) >= 4:
                contours.append(np.array(contour, dtype=np.float64))
        return contours


def _between(a, b, c) -> bool:
    return (min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= c[1] <= max(a[1], b[1]))


def boolean_rings(subject: list[np.ndarray], clipping: list[np.ndarray],
                  op: str) -> list[np.ndarray]:
    """Boolean op on ring lists -> result rings (closed ndarrays).

    Rings carry no explicit hole marking; even-odd semantics (consistent
    with the engine's ragged model and points_in_geom)."""
    if op not in (INTERSECTION, UNION, DIFFERENCE, XOR):
        raise ValueError(op)
    if not subject:
        return [] if op in (INTERSECTION, DIFFERENCE) else [r.copy() for r in clipping]
    if not clipping:
        return [] if op == INTERSECTION else [r.copy() for r in subject]
    if op == XOR:
        # symmetric difference as two difference sweeps (the regions are
        # disjoint, so the ring sets concatenate)
        return (_Sweep(subject, clipping, DIFFERENCE).run()
                + _Sweep(clipping, subject, DIFFERENCE).run())
    return _Sweep(subject, clipping, op).run()


def group_rings(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Group a flat even-odd ring set into polygons [[exterior, holes...]].

    A ring at even containment depth is an exterior; odd-depth rings are
    holes of their immediate parent."""
    if not rings:
        return []
    n = len(rings)

    def contains(outer: np.ndarray, inner: np.ndarray) -> bool:
        # test a vertex of inner not on outer's boundary
        from .kernels import INSIDE, OUTSIDE, points_in_ring

        st = points_in_ring(inner[:-1, 0], inner[:-1, 1], outer)
        if (st == INSIDE).any():
            return True
        if (st == OUTSIDE).any():
            return False
        return False  # all on boundary -> treat as not contained

    areas = [abs(float(np.cross(r[:-1], r[1:]).sum())) / 2 for r in rings]
    order = sorted(range(n), key=lambda i: -areas[i])
    depth = [0] * n
    parent = [-1] * n
    for oi, i in enumerate(order):
        for j in order[:oi][::-1]:  # nearest bigger ring containing i
            if contains(rings[j], rings[i]):
                depth[i] = depth[j] + 1
                parent[i] = j
                break
    polys: dict[int, list[np.ndarray]] = {}
    for i in order:
        if depth[i] % 2 == 0:
            polys[i] = [rings[i]]
    for i in order:
        if depth[i] % 2 == 1 and parent[i] in polys:
            polys[parent[i]].append(rings[i])
    return list(polys.values())


def clip_line_rings(line: np.ndarray, poly_rings: list[np.ndarray],
                    keep_inside: bool = True) -> list[np.ndarray]:
    """Clip an open polyline by an even-odd polygon: split segments at all
    boundary crossings, keep pieces whose midpoint is inside (or outside)."""
    from .kernels import points_in_ring

    def inside(px, py):
        from .kernels import BOUNDARY, INSIDE

        cnt = 0
        on = False
        for r in poly_rings:
            st = points_in_ring(np.array([px]), np.array([py]), r)[0]
            if st == BOUNDARY:
                on = True
            cnt += int(st == INSIDE)
        return on or (cnt % 2 == 1)

    pieces = []
    cur: list[np.ndarray] = []
    for i in range(len(line) - 1):
        a, b = line[i], line[i + 1]
        ts = [0.0, 1.0]
        d = b - a
        for r in poly_rings:
            e0, e1 = r[:-1], r[1:]
            de = e1 - e0
            denom = d[0] * de[:, 1] - d[1] * de[:, 0]
            w0 = e0 - a
            with np.errstate(divide="ignore", invalid="ignore"):
                t = (w0[:, 0] * de[:, 1] - w0[:, 1] * de[:, 0]) / denom
                u = (w0[:, 0] * d[1] - w0[:, 1] * d[0]) / denom
            ok = np.isfinite(t) & (t > 0) & (t < 1) & (u >= 0) & (u <= 1)
            ts.extend(t[ok].tolist())
        ts = sorted(set(ts))
        for t0, t1 in zip(ts[:-1], ts[1:]):
            mid = a + (t0 + t1) / 2 * d
            keep = inside(mid[0], mid[1])
            if keep != keep_inside:
                if len(cur) >= 2:
                    pieces.append(np.array(cur))
                cur = []
                continue
            p0 = a + t0 * d
            p1 = a + t1 * d
            if not cur:
                cur = [p0, p1]
            elif np.allclose(cur[-1], p0):
                cur.append(p1)
            else:
                if len(cur) >= 2:
                    pieces.append(np.array(cur))
                cur = [p0, p1]
    if len(cur) >= 2:
        pieces.append(np.array(cur))
    return pieces
