"""Stream-static spatial join (Structured Streaming).

The reference (GeoPandas) is batch-only. The stream-static join is a thin
caller of the batch broadcast probe (operators/sjoin.py's
``_broadcast_probe_refined``), which is stateless per probe row and so
runs unchanged on every microbatch:

    static side (dimension)  — cell cover computed and collected ONCE at
                               plan time by ``_collect_build_index`` into
                               a broadcast cell->row CSR index
    stream side (unbounded)  — one narrow ``mapInArrow`` pass per
                               microbatch: in-kernel cover, index lookup,
                               (probe, build) dedup, exact predicate

No watermark, no state store, no shuffle of the stream, no
dropDuplicates. Every stream-side column is carried onto its matched
pairs inside the pass, so no stream-side re-join is needed.

Mixed cover resolutions are handled exactly: bbox_cover coarsens any
row whose cover would exceed max_cells, so

* the static side emits its cover cells PLUS the full ancestor chain
  down to res 0 — a stream row coarsened to ANY resolution still meets
  the static row at the coarse cell,
* the stream side's in-kernel chain goes down to the static side's
  minimum possible cover res (a one-off stats pass over the bounded
  static side) — a coarsened STATIC row still meets fine stream rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.cells import DOMAIN_UNIT


def sjoin_stream(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    resolution: int = 7,
    left_geom: str = "geometry",
    right_geom: str = "geometry",
    right_id: str = "index_right",
    domain=DOMAIN_UNIT,
    max_cells: int = 4096,
) -> DataFrame:
    """Spatial join of a (possibly streaming) ``left`` against a STATIC
    ``right``. Returns left rows (all columns) joined with ``right``'s id
    column; works identically on batch frames (the pytest oracle runs it
    both ways).

    ``resolution`` is fixed (no stats pass on the STREAM — a streaming
    plan cannot collect), chosen by the caller from the static side's
    feature size via index.cells.pick_resolution. The static side gets a
    one-off plan-time stats pass (it is bounded) to size the stream
    side's ancestor chain.
    """
    from ..functions.st import st_bounds, st_cells
    from ..operators.sjoin import (VALID_PRED, _ancestors_udf,
                                   _broadcast_probe_refined, _min_cover_res)

    if predicate not in VALID_PRED or predicate == "dwithin":
        raise ValueError(
            f"sjoin_stream supports {[p for p in VALID_PRED if p != 'dwithin']};"
            f" got {predicate!r} (dwithin needs a distance; use batch sjoin)")

    # plan-time stats on the BOUNDED static side: its largest bbox bounds
    # how coarse its per-row cover can fall, which is how deep the stream
    # side's ancestor chain must go to meet coarsened static rows
    # nanvl: st_bounds emits NaN (not NULL) for empty/missing geometries
    # and max() ranks NaN above every real width — one empty row would
    # NaN the stats and crash _min_cover_res (round-4 review fix)
    s = (right.select(st_bounds(right_geom).alias("b"))
         .agg(F.max(F.nanvl(F.col("b.maxx") - F.col("b.minx"),
                            F.lit(0.0))).alias("mw"),
              F.max(F.nanvl(F.col("b.maxy") - F.col("b.miny"),
                            F.lit(0.0))).alias("mh"))
         .collect()[0])
    rmin_static = _min_cover_res(
        {"mw": float(s["mw"] or 0.0), "mh": float(s["mh"] or 0.0)},
        resolution, domain, max_cells=max_cells)

    # full ancestor chain: a stream row may coarsen to ANY res (its bbox
    # is unknown at plan time), so the static cover must be joinable at
    # every level. Ancestors dedupe per row — bounded blow-up on a
    # broadcast dimension.
    rcov = right.select(
        right_id, F.col(right_geom).alias("__rgeom"),
        _ancestors_udf(0)(st_cells(right_geom, resolution, domain=domain,
                                   max_cells=max_cells)).alias("__cells"))
    lraw = left.withColumnRenamed(left_geom, "__lgeom")
    out = _broadcast_probe_refined(
        lraw, rcov, right_id, predicate, None, 0.0, resolution, domain,
        rmin_static if rmin_static < resolution else None,
        carry=lraw.columns)
    return (out.withColumnRenamed("__lgeom", left_geom)
            .withColumnRenamed("__xrid", right_id))
