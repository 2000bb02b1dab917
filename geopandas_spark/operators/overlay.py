"""overlay — set-theoretic overlay of two polygon frames.

Reference contract (/root/reference/geopandas/tools/overlay.py:89-208,
mode helpers :23-73; QGIS-golden tests tests/test_overlay.py:69-224):

* ``intersection``: one row per crossing pair with BOTH attribute sets and
  geometry = pairwise intersection.
* ``difference``: df1 rows with geometry minus the union of all crossing
  df2 features (df1 columns only).
* ``symmetric_difference``: df1 residuals (df2 attrs NaN) + df2 residuals
  (df1 attrs NaN).
* ``union``: intersection rows + both residual sets.
* ``identity``: intersection rows + df1 residuals.

Physical plan: sjoin's two pair passes with an intersection kernel —
the broadcast probe (``_broadcast_probe_intersection``) or, for a large
build side or ``pair_on``, sjoin's shuffle cell cogroup
(``_cogroup_pairs`` with ``_intersection_body``) — so each pair's
intersection is computed where the pair is found. The residual stage
groups pairs by source row and subtracts the union of its *neighbors
only* (never a global union — that is the distributed trick that keeps
overlay shuffle-light at scale; SURVEY.md §2.4 overlay row). Rows with
no pairs at all pass through untouched (left join).

Geometry engine: exact rectilinear boolean / convex clipping fast paths
(geom/clipping.py) with the general Martinez–Rueda sweep
(geom/boolean.py) handling arbitrary polygon pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..index.cells import DOMAIN_UNIT
from ._buildindex import BuildIndex
from ._planner import plan_join
from .sjoin import (_check_keys, _cogroup_pairs, _output_columns,
                    _pair_mask, _prep_side, _suffix_columns, _widen_build)

VALID_HOW = ("intersection", "union", "identity", "symmetric_difference", "difference")


def _kept(res, polygonal: bool) -> np.ndarray:
    """Indices of the non-empty results of a pair kernel; with
    ``polygonal`` (overlay's ``keep_geom_type`` for how='intersection'),
    of the Polygon/MultiPolygon ones only."""
    from ..geom.ragged import MULTIPOLYGON, POLYGON

    keep = res.n_coords_per_geom() > 0
    if polygonal:
        keep &= np.isin(res.types, (POLYGON, MULTIPOLYGON))
    return np.nonzero(keep)[0]


def _broadcast_probe_intersection(probe_raw, build, i1: str, *,
                                  polygonal: bool, geoms: bool):
    """Broadcast overlay candidate+intersection as ONE probe-side
    ``mapInPandas`` pass — overlay's analogue of sjoin's
    ``_broadcast_probe_refined``, on the same shared build index
    (operators/_buildindex.py).

    The equi-join formulation carried BOTH geometries' WKB through every
    candidate row, so each Arrow batch re-decoded up to batch-size build
    geometries: measured 30 us/row at sf0.1 (2.7M candidate rows -> 91 s)
    with the whole cost in repeated ``from_wkb`` of the same 10k build
    polygons. Here the build side ships once per worker and is decoded
    once per worker process; each probe bbox is looked up in the
    grid-row index (plain (probe, build) dedup where a pair can repeat —
    no canonical-cell rule needed), and the pairwise intersection runs
    only on bbox-overlapping pairs. Wire traffic: O(|probe| + |build|)
    in, O(|matches|) out.

    Emits (__i1, __i2[, __g1, __g2], __inter) — the same schema as the
    shuffle plan's ``_intersection_body`` given the same ``polygonal``
    and ``geoms``.
    """
    i1_t = dict(probe_raw.dtypes)[i1]
    probe = probe_raw.select(F.col(i1).alias("__xi1"), "__g1")

    def fn(it):
        from ..geom.clipping import pairwise_intersection
        from ..geom.kernels import bounds as _bounds
        from ..geom.wkb import from_wkb, to_wkb
        from ._cellstream import BUFFER_ROWS as _CAP

        b = build.load()
        rbb = b.bounds
        for pdf in it:
            if len(pdf) == 0 or b.empty:
                continue
            lb = from_wkb(pdf["__g1"])
            lbb = _bounds(lb)
            lids = pdf["__xi1"].to_numpy()
            lws = pdf["__g1"].to_numpy(dtype=object)
            for li, ri in b.bbox_candidates(lbb, _CAP):
                # bbox prefilter: disjoint bboxes cannot intersect
                pre = _pair_mask(li, ri, lbb, rbb)
                li = li[pre]
                ri = ri[pre]
                if not len(li):
                    continue
                res = pairwise_intersection(lb.take(li), b.batch.take(ri))
                k = _kept(res, polygonal)
                if not len(k):
                    continue
                out = {"__i1": lids[li[k]], "__i2": build.id_values(ri[k])}
                if geoms:
                    out["__g1"] = lws[li[k]]
                    out["__g2"] = b.wkb.take(ri[k]).to_numpy(
                        zero_copy_only=False)
                out["__inter"] = list(to_wkb(res.take(k)))
                yield pd.DataFrame(out)

    g = "__g1 binary, __g2 binary, " if geoms else ""
    return probe.mapInPandas(
        fn, schema=(f"__i1 {i1_t}, __i2 {build.id_type.simpleString()}, "
                    f"{g}__inter binary"))


def _intersection_body(polygonal: bool, geoms: bool):
    """overlay's ``_cogroup_pairs`` kernel: the pairwise intersection of
    each candidate pair, as (__i1, __i2[, __g1, __g2], __inter) rows (the
    schema of ``_broadcast_probe_intersection``). Empty results, and with
    ``polygonal`` non-polygonal ones, are dropped; ``geoms`` adds both
    input geometries (only the residual stages read them)."""

    def body(l, r, lbb, rbb):
        from ..geom.clipping import pairwise_intersection
        from ..geom.wkb import from_wkb, to_wkb

        lw = l["__geom"].to_numpy(dtype=object)
        rw = r["__geom"].to_numpy(dtype=object)
        lb = from_wkb(lw)
        rb = from_wkb(rw)
        lid = l["__lid"].to_numpy()
        rid = r["__rid"].to_numpy()

        def pairs(li, ri):
            res = pairwise_intersection(lb.take(li), rb.take(ri))
            k = _kept(res, polygonal)
            if not len(k):
                return None
            li = li[k]
            ri = ri[k]
            out = {"__i1": lid[li], "__i2": rid[ri]}
            if geoms:
                out["__g1"] = lw[li]
                out["__g2"] = rw[ri]
            out["__inter"] = list(to_wkb(res.take(k)))
            return pd.DataFrame(out)

        return pairs

    return body


def _envelope_body(l, r, lbb, rbb):
    """overlay_candidates' ``_cogroup_pairs`` kernel: ids and the
    envelope intersection of each bbox-overlap pair; reads no geometry."""
    lid = l["__lid"].to_numpy()
    rid = r["__rid"].to_numpy()

    def pairs(li, ri):
        return pd.DataFrame({
            "__i1": lid[li], "__i2": rid[ri],
            "iminx": np.maximum(lbb[li, 0], rbb[ri, 0]),
            "iminy": np.maximum(lbb[li, 1], rbb[ri, 1]),
            "imaxx": np.minimum(lbb[li, 2], rbb[ri, 2]),
            "imaxy": np.minimum(lbb[li, 3], rbb[ri, 3])})

    return pairs


def _difference_vs_union(g, others) -> list:
    """geom minus union(neighbors), one WKB per row: None for a NULL
    geom, the geometry itself for a row with no neighbors (NULL
    ``others``)."""
    from ..geom import wkb as B
    from ..geom.clipping import (
        polygons_rectilinear, rectilinear_boolean,
    )
    from ..geom.ragged import GeometryBatchBuilder, POLYGON, MULTIPOLYGON

    out = []
    for wkb_g, arr in zip(g, others):
        if wkb_g is None or arr is None:
            out.append(wkb_g)
            continue
        batch = B.from_wkb([wkb_g] + [a for a in arr if a is not None])
        base = polygons_rectilinear(batch, 0)
        general = base is None or any(
            polygons_rectilinear(batch, k) is None
            for k in range(1, len(batch)))
        if general:
            # arbitrary polygons: Martinez-Rueda difference vs each
            # intersecting neighbor in turn
            from ..geom.boolean import boolean_rings, group_rings
            from ..geom.clipping import _all_poly_rings

            cur = _all_poly_rings(batch, 0)[0]
            for k in range(1, len(batch)):
                cur = boolean_rings(cur, _all_poly_rings(batch, k)[0],
                                    "difference")
                if not cur:
                    break
        else:
            cur = base
            for k in range(1, len(batch)):
                sub = polygons_rectilinear(batch, k)
                polys = rectilinear_boolean(cur, sub, "difference")
                cur = [ring for rings in polys for ring in rings]
                if not cur:
                    break
        bld = GeometryBatchBuilder()
        if not cur:
            bld.add(POLYGON, [(POLYGON, [])])
        elif general:
            from ..geom.boolean import group_rings

            polys = group_rings(cur)
            if not polys:
                bld.add(POLYGON, [(POLYGON, [])])
            elif len(polys) == 1:
                bld.add(POLYGON, [(POLYGON, polys[0])])
            else:
                bld.add(MULTIPOLYGON, [(POLYGON, r) for r in polys])
        else:
            polys = rectilinear_boolean(cur, cur, "intersection")
            if not polys:
                bld.add(POLYGON, [(POLYGON, [])])
            elif len(polys) == 1:
                bld.add(POLYGON, [(POLYGON, polys[0])])
            else:
                bld.add(MULTIPOLYGON, [(POLYGON, r) for r in polys])
        out.append(B.to_wkb(bld.finish())[0])
    return out


def _difference_vs_union_udf():
    """``_difference_vs_union`` as a 0- or 1-element array<binary>: a
    NULL or empty result gives the empty array, so callers explode it."""

    @pandas_udf("array<binary>")
    def _f(g: pd.Series, others: pd.Series) -> pd.Series:
        from ..geom.wkb import from_wkb

        out = _difference_vs_union(g, others)
        empty = from_wkb(pd.Series(out, dtype=object)).is_empty()
        return pd.Series([[w] if w is not None and not e else []
                          for w, e in zip(out, empty)])

    return _f


def overlay_candidates(
    df1: DataFrame,
    df2: DataFrame,
    geom: str = "geometry",
    id1: str | None = None,
    id2: str | None = None,
    resolution: int | None = None,
    domain=DOMAIN_UNIT,
) -> DataFrame:
    """Exact bbox-overlap candidate pair set of an overlay — the
    SQL-reproducible stage of the overlay plan.

    Runs the same prep, bbox-stats, resolution pick, one-resolution
    cover, cell cogroup and giant pass as ``overlay``'s shuffle plan but
    stops at the envelope test: one row per (df1, df2) pair whose
    bounding boxes overlap or touch, with the envelope-intersection
    bounds (``iminx/iminy/imaxx/imaxy``). Every emitted value is
    closed-form over the input bboxes, so an external SQL engine can
    reproduce the full result hash — auditing the candidate machinery
    (cover resolution, the giant split, the reference-point rule) that
    the general-polygon intersection kernel rides on; the intersection
    areas themselves have no closed form and stay pinned by the
    GH-vs-sweep parity tests (tests/test_unary_binary.py).

    Scale: the shuffle carries (id, bbox, cell) rows only — no geometry
    WKB moves — and each pair is emitted once, in its canonical cell.
    """
    df1p, i1 = _prep_side(df1, geom, id1, "o1")
    raw2, i2 = _prep_side(df2, geom, id2, "o2", widen=False)
    df2p = _widen_build(raw2, geom)
    plan = plan_join(df1, raw2, i2, (geom, geom), resolution, domain,
                     broadcast=False, prepped=(df1p, i1))
    pairs = _cogroup_pairs(
        plan, df1p, df2p, i1, i2, _envelope_body,
        f"__i1 {dict(df1p.dtypes)[i1]}, __i2 {dict(df2p.dtypes)[i2]}, "
        "iminx double, iminy double, imaxx double, imaxy double")
    return pairs.select(F.col("__i1").alias(i1), F.col("__i2").alias(i2),
                        "iminx", "iminy", "imaxx", "imaxy")


def _residuals(src: DataFrame, pairs: DataFrame, src_id: str, other_geom_col: str,
               own_id_col: str, geom: str) -> DataFrame:
    """src rows minus the union of their intersecting counterparts; rows
    with no counterpart pass through unchanged. Rows whose result is NULL
    or empty are dropped. One Python node."""
    nb = (
        pairs.groupBy(own_id_col)
        .agg(F.collect_list(other_geom_col).alias("__others"))
        .withColumnRenamed(own_id_col, src_id)
    )
    joined = src.join(nb, on=src_id, how="left")
    # explode drops NULL and empty results. A filter on the UDF's output
    # would be pushed below its projection and run the kernel twice
    diff = F.explode(_difference_vs_union_udf()(
        F.col(geom), F.col("__others"))).alias(geom)
    return joined.select(*[diff if c == geom else F.col(c)
                           for c in joined.columns if c != "__others"])


def overlay(
    df1: DataFrame,
    df2: DataFrame,
    how: str = "intersection",
    geom: str = "geometry",
    id1: str | None = None,
    id2: str | None = None,
    lsuffix: str = "1",
    rsuffix: str = "2",
    resolution: int | None = None,
    domain=DOMAIN_UNIT,
    keep_geom_type: bool = True,
    make_valid: bool = True,
    pair_on: str | None = None,
) -> DataFrame:
    """Overlay two polygon frames (reference tools/overlay.py:89-208).

    how='intersection' returns one row per intersecting pair: the
    intersection geometry, then df1's data columns, then df2's. Names
    both sides carry get ``_{lsuffix}`` / ``_{rsuffix}``; auto ids are
    dropped.

    ``keep_geom_type`` keeps Polygon and MultiPolygon results only. For
    how='intersection' the pair kernels apply it, so a line or point
    intersection (an edge or corner touch) never leaves the kernel. The
    other modes filter their assembled rows with ``st_geometry_type``:
    their residual stages subtract every intersecting neighbor, so their
    pairs keep every result type.

    Narrow path: for how='intersection' with both sides carrying nothing
    beyond their id and geometry (sjoin's ``_output_columns`` rule), the
    output is selected straight from the checkpointed pairs, with no
    Python node and no join after the checkpoint. Every other shape
    re-joins both sides' data columns by id.

    pair_on (scale extension, no reference analogue — the sjoin
    counterpart is ``on_attribute``, ref tools/sjoin.py:62): restrict
    candidate pairs to rows whose ``pair_on`` column values are EQUAL
    under Spark SQL ``=`` (NULL never pairs, NaN pairs with NaN, -0.0
    with 0.0). It takes sjoin's ``on_attribute`` path: an atomic column,
    not the geometry, whose hash joins the cell key of the shuffle
    cogroup and whose values are compared exactly per pair. Use when the
    overlay is keyed (per-tile, per-region, per-entity): a spatially
    dense workload whose logical pairs are keyed otherwise pays the
    full cross-key candidate cost only to discard it (measured 137x
    candidate inflation on the dart gate query). pair_on always rides
    the shuffle plan: the key splits the cell groups, and the broadcast
    kernel's in-kernel pair generation has no attribute channel."""
    if how not in VALID_HOW:
        raise ValueError(f"`how` was {how!r} but is expected to be in {VALID_HOW}")
    pair_on = [] if pair_on is None else [pair_on]
    _check_keys(df1, df2, pair_on, (geom, geom), "pair_on")
    if make_valid:
        # reference contract (tools/overlay.py:89-208): repair invalid
        # inputs before overlaying. The kernel passes valid rows through,
        # so the cost is one validity scan per side; pass make_valid=False
        # to skip when inputs are known-clean (the reference would raise
        # on invalid rows in that mode — at scale we skip the check
        # entirely rather than run it just to raise).
        from ..functions.st import st_make_valid

        df1 = df1.withColumn(geom, st_make_valid(geom))
        df2 = df2.withColumn(geom, st_make_valid(geom))
    df1p, i1 = _prep_side(df1, geom, id1, "o1")
    df2p, i2 = _prep_side(df2, geom, id2, "o2", widen=False)
    # as in sjoin; pair_on always rides the shuffle plan
    plan = plan_join(df1, df2p, i2, (geom, geom), resolution, domain,
                     broadcast=False if pair_on else None,
                     prepped=(df1p, i1), keys=pair_on)
    df1c = df1p.drop("__bb")
    d1cols, d2cols, narrow = _output_columns(
        df1c, df2p, i1, i2, id1 is None, id2 is None, geom, geom, "inner")
    inter_only = how == "intersection"
    if plan.table is None or not (inter_only and narrow):
        # as in sjoin: widen the build only for a pass that reads it
        df2p = _widen_build(df2p, geom)
    df2c = df2p.drop("__bb")

    # pairs rows = intersecting pairs, with the intersection geometry
    # already computed in the same Arrow pass (empty intersections — pure
    # touches — are dropped; subtracting a touching neighbor is a no-op,
    # so the residual stages are unaffected). how='intersection' needs
    # neither input geometry after the kernel, and keeps only polygonal
    # results there when keep_geom_type.
    kernel = {"polygonal": inter_only and keep_geom_type,
              "geoms": not inter_only}
    if plan.table is not None:
        # small build side: single probe-side pass — no join, no explode,
        # no per-batch build re-decode (see _broadcast_probe_intersection).
        # df1p is already widened by _prep_side.
        probe_raw = df1p.select(F.col(i1), F.col(geom).alias("__g1"))
        pairs = _broadcast_probe_intersection(
            probe_raw, BuildIndex(plan.table, plan.resolution, domain), i1,
            **kernel)
    else:
        g = "__g1 binary, __g2 binary, " if kernel["geoms"] else ""
        pairs = _cogroup_pairs(
            plan, df1p, df2p, i1, i2, _intersection_body(**kernel),
            f"__i1 {dict(df1p.dtypes)[i1]}, __i2 {dict(df2p.dtypes)[i2]}, "
            f"{g}__inter binary",
            geoms=(geom, geom), on_attribute=pair_on)
    # Keep the checkpoint: it stores each partition of pairs whole before
    # anything reads it, so a task's kernel worker is idle before a
    # Python UDF on the output (a caller's st_area) starts. Without it
    # the kernel and that UDF chain in one task, each task holds two
    # Python workers, and the join_broadcast benchmark (4 cores) read 13
    # instead of 9 Python processes and +20% peak PSS. It also computes
    # the pairs once for the modes that read them twice (intersection
    # piece and residuals).
    pairs = pairs.localCheckpoint(eager=False)

    m1, m2 = _suffix_columns(df1c.select(d1cols), df2c.select(d2cols),
                             lsuffix, rsuffix, exclude={geom})
    if inter_only and narrow:
        # every output column is in pairs, in the order the re-join gives
        return pairs.select(
            F.col("__inter").alias(geom),
            *([F.col("__i1").alias(m1[i1])] if i1 in d1cols else []),
            *([F.col("__i2").alias(m2[i2])] if i2 in d2cols else []))
    f1 = df1c.select(*[F.col(c).alias(m1.get(c, c)) for c in d1cols],
                     F.col(i1).alias("__I1"))
    f2 = df2c.select(*[F.col(c).alias(m2.get(c, c)) for c in d2cols],
                     F.col(i2).alias("__I2"))

    pieces = []
    if how in ("intersection", "union", "identity"):
        inter = pairs.withColumn(geom, F.col("__inter"))
        inter_full = (
            inter.select(F.col("__i1").alias("__I1"), F.col("__i2").alias("__I2"), geom)
            .join(f1.drop(m1.get(geom, geom)), on="__I1", how="left")
            .join(f2, on="__I2", how="left")
        )
        pieces.append(inter_full)
    if how in ("union", "identity", "symmetric_difference", "difference"):
        res1 = _residuals(df1c, pairs, i1, "__g2", "__i1", geom)
        res1 = res1.select(*[F.col(c).alias(m1.get(c, c)) for c in d1cols],
                           F.col(i1).alias("__I1"))
        if how != "difference":  # difference keeps df1 columns only
            res1 = res1.withColumn("__I2", F.lit(None).cast("long"))
            for c in [m2.get(c, c) for c in d2cols]:
                res1 = res1.withColumn(c, F.lit(None))
        pieces.append(res1)
    if how in ("union", "symmetric_difference"):
        res2 = _residuals(df2c, pairs, i2, "__g1", "__i2", geom)
        res2 = res2.select(*[F.col(c).alias(m2.get(c, c)) for c in d2cols],
                           F.col(geom), F.col(i2).alias("__I2"))
        res2 = res2.withColumn("__I1", F.lit(None).cast("long"))
        for c in [m1.get(c, c) for c in d1cols if c != geom]:
            res2 = res2.withColumn(c, F.lit(None))
        pieces.append(res2)

    if how == "difference":
        out = pieces[0].drop("__I1", "__I2")
        return out

    base = pieces[0]
    for p in pieces[1:]:
        base = base.unionByName(p.select(base.columns), allowMissingColumns=True)
    out = base.drop("__I1", "__I2")
    if keep_geom_type and not inter_only:  # intersection: in the kernel
        from ..functions.st import st_geometry_type

        out = out.filter(st_geometry_type(geom).isin("Polygon", "MultiPolygon"))
    return out
