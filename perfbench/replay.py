"""Kernel replays for the traced run: driver-process calls to the public
kernel functions on the workload's own inputs, collected once.

Each replay runs under a ``replay:<module.function>`` span that carries
its counts. The candidate pairs are the pairs of rows whose cell covers share
a cell at the replay's resolution (the engine's cell join before refine).
"""

from __future__ import annotations

import numpy as np

from geopandas_spark.geom import clipping, kernels, predicates, wkb
from geopandas_spark.index import cells

# replays evaluate at most this many candidate pairs (the first ones in
# (left, right) order), so a traced run stays bounded
MAX_PAIRS = 200_000


def decode(tracer, *columns):
    with tracer.span("replay:geom.wkb.from_wkb") as s:
        out = [wkb.from_wkb(c) for c in columns]
        s["counts"]["rows"] = sum(len(c) for c in columns)
    return out


def cover(tracer, batches, res: int, domain=cells.DOMAIN_UNIT):
    covers, n_cells, n_geoms = [], 0, 0
    with tracer.span("replay:index.cells.bbox_cover") as s:
        for b in batches:
            bb = np.nan_to_num(kernels.bounds(b))
            flat, off = cells.bbox_cover(bb[:, 0], bb[:, 1], bb[:, 2], bb[:, 3],
                                         res, domain=domain)
            covers.append((flat, np.repeat(np.arange(len(b)), np.diff(off))))
            n_cells += len(flat)
            n_geoms += len(b)
        s["counts"].update(cells=n_cells, geoms=n_geoms)
    return covers


def candidate_pairs(tracer, cov_a, cov_b):
    """Unique (row_a, row_b) pairs sharing at least one cell."""
    with tracer.span("bench:candidates") as s:
        (fa, ra), (fb, rb) = cov_a, cov_b
        o = np.argsort(fb, kind="stable")
        fb, rb = fb[o], rb[o]
        lo = np.searchsorted(fb, fa, "left")
        hi = np.searchsorted(fb, fa, "right")
        n = hi - lo
        total = int(n.sum())
        starts = np.repeat(np.cumsum(n) - n, n)
        ib = rb[np.arange(total) - starts + np.repeat(lo, n)]
        ia = np.repeat(ra, n)
        width = int(rb.max()) + 1 if len(rb) else 1
        key = np.unique(ia.astype(np.int64) * width + ib)
        s["counts"]["candidates"] = len(key)
    return key // width, key % width


def refine(tracer, pred, a, b, ia, ib):
    ia, ib = ia[:MAX_PAIRS], ib[:MAX_PAIRS]
    with tracer.span("replay:geom.predicates.pairwise_predicate") as s:
        hit = predicates.pairwise_predicate(pred, a.take(ia), b.take(ib))
        s["counts"].update(pairs=len(ia), survivors=int(hit.sum()))
    return ia[hit], ib[hit]


def intersect(tracer, a, b, ia, ib):
    ia, ib = ia[:MAX_PAIRS], ib[:MAX_PAIRS]
    with tracer.span("replay:geom.clipping.pairwise_intersection") as s:
        clipping.pairwise_intersection(a.take(ia), b.take(ib))
        s["counts"]["pairs"] = len(ia)


def summarize(spans) -> dict:
    """Replay spans of one call -> per-layer counters."""
    out: dict = {}

    def inc(k, v):
        out[k] = out.get(k, 0) + v

    for s in spans:
        d, c = s["end"] - s["start"], s["counts"]
        name = s["name"]
        if name == "replay:geom.wkb.from_wkb":
            inc("geom.wkb.from_wkb_s", d)
            inc("geom.wkb.rows", c["rows"])
        elif name == "replay:index.cells.bbox_cover":
            inc("index.cells.bbox_cover_s", d)
            inc("replay.cells", c["cells"])
            inc("replay.geoms", c["geoms"])
        elif name == "bench:candidates":
            inc("index.candidates", c["candidates"])
        elif name == "replay:geom.predicates.pairwise_predicate":
            inc("geom.predicates.pairwise_predicate_s", d)
            inc("geom.predicates.survivors", c["survivors"])
            inc("replay.refined", c["pairs"])
        elif name == "replay:geom.clipping.pairwise_intersection":
            inc("geom.clipping.pairwise_intersection_s", d)
            inc("geom.clipping.pairs", c["pairs"])
    return out
