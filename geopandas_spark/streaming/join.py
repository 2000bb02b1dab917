"""Stream-static spatial join (Structured Streaming).

The reference (GeoPandas) is batch-only. The stream-static join is a thin
caller of the batch broadcast probe (operators/sjoin.py's
``_broadcast_probe_refined``), which is stateless per probe row and so
runs unchanged on every microbatch:

    static side (dimension)  — collected ONCE at plan time into the
                               shared grid-row build index
                               (operators/_buildindex.py) and broadcast
    stream side (unbounded)  — one narrow ``mapInArrow`` pass per
                               microbatch: index lookup of each row's
                               bbox, (probe, build) dedup, exact predicate

No watermark, no state store, no shuffle of the stream, no
dropDuplicates, no plan-time stats job. Every stream-side column is
carried onto its matched pairs inside the pass, so no stream-side
re-join is needed. The index is one fine grid at ``resolution``; a
static row spanning more than ``max_cells`` cells is a candidate of
every stream row, so giant static geometries need no coarse covers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

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
    feature size via index.cells.pick_resolution. ``max_cells`` is the
    static side's giant-row threshold (see operators/_buildindex.py).
    """
    from ..operators._buildindex import BuildIndex, collect_build
    from ..operators.sjoin import (VALID_PRED, _broadcast_probe_refined,
                                   _prep_side)

    if predicate not in VALID_PRED or predicate == "dwithin":
        raise ValueError(
            f"sjoin_stream supports {[p for p in VALID_PRED if p != 'dwithin']};"
            f" got {predicate!r} (dwithin needs a distance; use batch sjoin)")

    # the static side's only consumer is the driver collect: no widen
    right, rid = _prep_side(right, right_geom, right_id, "r", widen=False)
    lraw = left.withColumnRenamed(left_geom, "__lgeom")
    out = _broadcast_probe_refined(
        lraw, BuildIndex(collect_build(right, rid, right_geom), resolution,
                         domain, max_cells),
        predicate, None, 0.0, carry=lraw.columns)
    return (out.withColumnRenamed("__lgeom", left_geom)
            .withColumnRenamed("__xrid", right_id))
