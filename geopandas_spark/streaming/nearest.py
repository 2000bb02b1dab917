"""Stream-static nearest-neighbor join (Structured Streaming).

Stateless kNN (k=1, exact ties kept — same contract as the batch
sjoin_nearest, tools/sjoin.py:428) of a streaming left side against a
STATIC right side. A thin caller of the batch broadcast kNN kernel
(operators/nearest.py):

* the static side is collected ONCE at plan time into the shared
  grid-row build index (operators/_buildindex.py); build rows whose
  bbox exceeds ``max_cells`` fine cells become candidates of every
  probe,
* ``_broadcast_knn`` runs ONE ``mapInPandas`` pass per microbatch: each
  left row probes a Chebyshev disk around its cell, certifies, escalates
  and finishes with an exact-radius probe, all vectorized in-kernel,
* no state store, no watermark, no shuffle of the stream.

This is the per-event "nearest geofence / nearest facility" lookup shape:
the dimension fits in a broadcast, the stream side stays narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.cells import DOMAIN_UNIT


def sjoin_nearest_stream(
    left: DataFrame,
    right: DataFrame,
    resolution: int = 7,
    left_geom: str = "geometry",
    right_geom: str = "geometry",
    left_id: str = "index_left",
    right_id: str = "index_right",
    distance_col: str = "dist",
    domain=DOMAIN_UNIT,
    max_cells: int = 4096,
) -> DataFrame:
    """Nearest right row (ties kept) for every (possibly streaming) left
    row. Works identically on batch frames — the pytest oracle pins it
    to the batch sjoin_nearest."""
    from ..index.cells import cell_size
    from ..operators._buildindex import collect_build
    from ..operators.nearest import _broadcast_knn
    from ..operators.sjoin import _prep_side

    # the static side's only consumer is the driver collect: no widen
    right, rid = _prep_side(right, right_geom, right_id, "r", widen=False)
    probe = left.select(F.col(left_id).alias("__xlid"),
                        F.col(left_geom).alias("__lgeom"))
    out = _broadcast_knn(
        probe, collect_build(right, rid, right_geom), resolution, domain,
        min_cell=min(cell_size(resolution, domain)),
        k_cap=1 << resolution,  # full-grid disk == brute force
        max_distance=None, exclusive=False, emit_geom=False,
        lid_t=dict(left.dtypes)[left_id], rid_t=dict(right.dtypes)[rid],
        max_cells=max_cells)
    return out.select(F.col("__xlid").alias(left_id),
                      F.col("__xrid").alias(right_id),
                      F.col("__d").alias(distance_col))
