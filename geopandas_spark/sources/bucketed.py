"""Bucketed spatial tables: shuffle-free co-located cell joins.

The 100 TB pattern (task brief: "bucketing for co-located joins"): a
dataset that is spatially joined repeatedly — a canonical parcel table,
a geofence dimension — pays the cell-cover explode + hash shuffle on
EVERY join. Writing it once as a bucketed table keyed by its exploded
quadtree cover cell moves that cost to write time: two tables bucketed
by ``cell`` with the same bucket count cogroup by cell with NO Exchange
on either side (Spark's bucketing spec satisfies the cogroup's required
distribution), so each incremental join is one map-side Arrow pass.

Each cell group's candidate pairs come from the block function of
sjoin's shuffle pass (operators/sjoin.py's ``_cell_candidates``: bbox
prefilter and the reference-point rule) and are refined in-kernel, so
multi-cell geometries still yield each pair exactly once without a
dedup shuffle, and no candidate pair's WKB crosses Arrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.cells import DOMAIN_UNIT, _RES_SHIFT


def write_bucketed_cells(
    df: DataFrame,
    table: str,
    path: str,
    geom: str = "geometry",
    resolution: int = 6,
    buckets: int = 32,
    domain=DOMAIN_UNIT,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as an external bucketed table keyed by its exploded
    cell cover (one row per (geometry, cover cell)). Join two such
    tables with :func:`sjoin_bucketed` — same ``resolution`` and
    ``buckets`` on both sides required for the shuffle-free plan."""
    from ..functions.st import st_cells

    out = df.withColumn(
        "cell", F.explode(st_cells(geom, resolution, domain=domain)))
    # bbox_cover coarsens any row whose cover would exceed max_cells;
    # sjoin_bucketed's cell cogroup matches SAME-res cells only, so a
    # coarsened row would be silently unjoinable (ADVICE r2), so
    # validate BEFORE writing: reject if any row fell back (one extra
    # pass; writes are one-time by design).
    mn = (out.agg(F.min(F.shiftright("cell", _RES_SHIFT)).alias("r"))
          .collect()[0]["r"])
    if mn is not None and int(mn) < resolution:
        raise ValueError(
            f"write_bucketed_cells: some rows' covers fell back to res {mn}"
            f" (< {resolution}) because they exceed max_cells — "
            "sjoin_bucketed would silently miss their pairs. Use a coarser "
            "`resolution` (every row's bbox must cover <= max_cells cells) "
            "or route large geometries through operators.sjoin.")
    (out.write.mode(mode).option("path", path)
        .bucketBy(buckets, "cell").sortBy("cell").saveAsTable(table))


def sjoin_bucketed(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    predicate: str = "intersects",
    left_geom: str = "geometry",
    right_geom: str = "geometry",
    domain=DOMAIN_UNIT,
) -> DataFrame:
    """Exact spatial join of two :func:`write_bucketed_cells` tables.

    The tables' write resolution is recovered from the data (one-row
    lookup; write_bucketed_cells validates every row's cover sits
    exactly at it, so the canonical-cell refine reduces to single-res
    ownership and the join is exact). Both sides must have been written
    at the same resolution.

    The cell cogroup consumes the tables' bucketing (no Exchange); pair
    generation, reference-point dedup and the exact predicate run in one
    Arrow pass per cell group. Returns left columns + right columns
    (right geometry dropped, collisions suffixed ``_right``)."""
    import numpy as np
    from pyspark.sql.types import StructType

    l = spark.table(left_table)
    r = spark.table(right_table)
    lres = l.select(F.shiftright("cell", _RES_SHIFT).alias("r")).first()
    rres = r.select(F.shiftright("cell", _RES_SHIFT).alias("r")).first()
    if lres is None or rres is None:
        # one side empty: empty result with the joined schema (same
        # column renames as the live path)
        shared0 = (set(l.columns) & set(r.columns)) - {"cell"}
        r0 = r
        for c in shared0:
            r0 = r0.withColumnRenamed(c, f"{c}_right")
        rg0 = (f"{right_geom}_right" if right_geom in shared0
               else right_geom)
        return (l.limit(0).join(r0.limit(0), "cell", "inner")
                .drop("cell", rg0))
    if int(lres["r"]) != int(rres["r"]):
        raise ValueError(
            f"sjoin_bucketed: tables were written at different cell "
            f"resolutions ({int(lres['r'])} vs {int(rres['r'])}); their "
            "cell keys can never match — rewrite one side.")
    resolution = int(lres["r"])
    shared = (set(l.columns) & set(r.columns)) - {"cell"}
    for c in shared:
        r = r.withColumnRenamed(c, f"{c}_right")
    rgeom_out = (f"{right_geom}_right" if right_geom in shared
                 else right_geom)
    lcols = [c for c in l.columns if c != "cell"]
    rcols = [c for c in r.columns if c not in ("cell", rgeom_out)]
    schema = StructType([l.schema[c] for c in lcols]
                        + [r.schema[c] for c in rcols])

    def pairs(key, lt, rt):
        import pyarrow as pa

        nl, nr = lt.num_rows, rt.num_rows
        o_l = [np.empty(0, dtype=np.int64)]
        o_r = [np.empty(0, dtype=np.int64)]
        if nl and nr:
            from ..geom.kernels import bounds
            from ..geom.predicates import pairwise_predicate
            from ..geom.wkb import from_wkb
            from ..operators.sjoin import _cell_candidates

            lb = from_wkb(lt.column(left_geom).to_pandas())
            rb = from_wkb(rt.column(rgeom_out).to_pandas())
            # one group: this cell. Every row's cover sits at
            # `resolution` (validated at write), so each pair's
            # canonical cell is at that res
            for li, ri in _cell_candidates(
                    np.zeros(nl), np.zeros(nr), np.full(nl, key[0].as_py()),
                    np.nan_to_num(bounds(lb)), np.nan_to_num(bounds(rb)),
                    resolution, domain):
                ok = np.asarray(pairwise_predicate(
                    predicate, lb.take(li), rb.take(ri)), dtype=bool)
                o_l.append(li[ok])
                o_r.append(ri[ok])
        li, ri = np.concatenate(o_l), np.concatenate(o_r)
        return pa.Table.from_arrays(
            [*lt.select(lcols).take(li).columns,
             *rt.select(rcols).take(ri).columns], names=lcols + rcols)

    return l.groupBy("cell").cogroup(r.groupBy("cell")).applyInArrow(
        pairs, schema)
