"""Distributed spatial join — the engine's flagship operator.

Reference contract: ``geopandas.sjoin`` (/root/reference/geopandas/tools/
sjoin.py:11-97): pair (l, r) kept iff predicate(l.geom, r.geom); how in
{inner, left, right}; optional ``on_attribute`` equality conjunct;
column collisions suffixed (sjoin.py:193-224); outer rows null-padded
(sjoin.py:239-262).

Physical plan (SURVEY.md §2.4 / §4), designed for 1000-executor scale:

1. **Prep + decide**: each side gets a row id (if none supplied) and a
   bbox struct. Unless the plan is forced to the cogroup pass, a right
   side whose plan size estimate is small (``_collect_first``) is
   Arrow-collected ONCE with ``LIMIT BROADCAST_MAX_ROWS + 1``
   (``_buildindex.collect_build``, no ``widen`` in front of it); its
   count and bbox extents come from that table in numpy. A larger right
   side is sized first by one map-only job (``_side_stats``) and
   collected only if it fits. Only when ``resolution`` is not given
   does one map-only job read the left side's extents. The stats fix
   the grid resolution and the estimated exploded size of the right
   side's cell cover; a build that fits is keyed from its one collect.
   Every other case (overflowing or over-estimate build,
   ``on_attribute``, ``salt_hot_cells``, ``broadcast_right=False``)
   takes the cogroup pass, sized by one map-only stats job per side
   whose stats are not known yet. The stats also give the cogroup pass
   the coarsest per-row cover res each side can fall back to (the
   other side then emits ancestor cells down to it).
2. **Pair pass**: one of two ``mapInPandas``/``mapInArrow`` kernels.
   Candidate pairs are generated, deduped and refined with the exact
   vectorized predicate (geom/predicates.py) in-kernel, and leave the
   pass as id pairs — no per-pair WKB crosses an Arrow boundary.

   * **Broadcast probe** (``_broadcast_probe_refined``): chosen when the
     right side's exploded cover is under BROADCAST_EXPLODED_ROWS (or
     ``broadcast_right=True``) and neither ``on_attribute`` nor
     ``salt_hot_cells`` is set. The right side is collected once into
     the shared grid-row index (``_buildindex.BuildIndex``: one fine
     grid, one sorted key range per grid row, giant rows as candidates
     of every probe) and broadcast; the left side streams through one
     pass that looks each (dwithin-padded) bbox up, dedups on the
     (probe, build) key where a pair can repeat, and refines. No join,
     no shuffle.
   * **Cogroup** (``_cogroup_refined``): every other case. Both sides
     are exploded per cover cell, union-tagged and hash-partitioned by
     (cell, salt[, attribute hash]). Each group's pairs are generated
     in-kernel and kept only in their canonical cell (reference-point
     rule, ``_canonical_cells``); ``on_attribute`` equality is checked
     exactly per pair. Hot cells are salted on request (build rows
     replicated into salt buckets, probe rows hashed into one).
3. **Assemble** (``_assemble``): suffix collided columns, attach
   ``index_right`` (``index_left`` for how='right'), null-pad outer
   rows. When both sides carry only (id, geometry) and how='inner', the
   pass output already is the result and both re-joins are skipped.

At 100 TB the dominant cost is the cogroup shuffle; the cell id is a
single int64 so shuffle rows are (cell, id, wkb). Resolution is chosen so
an average geometry covers ~1-2 cells (index/cells.pick_resolution),
bounding both candidate-pair inflation and refine selectivity.
"""

from __future__ import annotations

import operator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, MapType, StructType

from ..functions.st import st_bounds, st_cells_from_bbox
from ..index.cells import DOMAIN_UNIT, pick_resolution

VALID_HOW = ("inner", "left", "right")
VALID_PRED = (
    "intersects", "contains", "contains_properly", "within", "covers",
    "covered_by", "touches", "crosses", "overlaps", "dwithin", "equals",
)


def _suffix_columns(left: DataFrame, right: DataFrame, lsuffix: str,
                    rsuffix: str, exclude: set[str]):
    """Reference collision rule (tools/sjoin.py:193-224): columns present
    on both sides get '{name}_{lsuffix}' / '{name}_{rsuffix}'."""
    lcols = [c for c in left.columns if c not in exclude]
    rcols = [c for c in right.columns if c not in exclude]
    shared = set(lcols) & set(rcols)
    lmap = {c: (f"{c}_{lsuffix}" if c in shared else c) for c in lcols}
    rmap = {c: (f"{c}_{rsuffix}" if c in shared else c) for c in rcols}
    return lmap, rmap


def _side_stats(df: DataFrame, geom: str) -> dict:
    """n and avg + max bbox extents of one side in ONE map-only job. Each
    task decodes its WKB and reduces each Arrow batch's bboxes to one
    partial row; the driver combines the rows. (A Spark global agg is
    two jobs under AQE: its exchange is a query stage.) Only ``geom`` is
    read, so a raw frame and a ``_prep_side`` frame give the same
    stats."""
    from ._buildindex import PARTIAL_SCHEMA, bbox_partial, combine_partials

    def fn(it):
        import pyarrow as pa

        from ..geom.kernels import bounds
        from ..geom.wkb import from_wkb

        for batch in it:
            row = bbox_partial(bounds(from_wkb(
                batch.column(0).to_numpy(zero_copy_only=False))))
            yield pa.RecordBatch.from_pylist(
                [dict(zip(("n", "sw", "cw", "mw", "sh", "ch", "mh"), row))])

    parts = df.select(geom).mapInArrow(fn, PARTIAL_SCHEMA).toArrow()
    return combine_partials(np.column_stack(
        [c.to_numpy() for c in parts.columns]))


def _bbox_stats(left: DataFrame, right: DataFrame, left_geom: str,
                right_geom: str) -> list[dict]:
    """``_side_stats`` of both sides: the shuffle plans' sizing."""
    return [_side_stats(left, left_geom), _side_stats(right, right_geom)]


# exploded build-side rows below this -> broadcast the exploded cell cover
# instead of shuffling both sides (UDF-derived sizes defeat AQE's own
# auto-broadcast estimation, so the operators decide from the stats)
BROADCAST_EXPLODED_ROWS = 2_000_000
# _est_exploded counts every row at >= 1.5 x 1.5 cells, so a build with
# more rows than this never passes the test above: the bounded build
# collect (_buildindex.collect_build) stops one row past it. Derived,
# not a knob.
BROADCAST_MAX_ROWS = BROADCAST_EXPLODED_ROWS * 4 // 9


def _est_exploded(stats: dict, resolution: int, domain, pad: float = 0.0) -> float:
    """Estimated exploded cell-cover rows for a side (n x avg cells)."""
    from ..index.cells import cell_size

    cw, ch = cell_size(resolution, domain)
    cells = (stats["aw"] + 2 * pad) / cw + 1.5
    cells *= (stats["ah"] + 2 * pad) / ch + 1.5
    return stats["n"] * max(cells, 1.0)


def _estimate_resolution(stats: list[dict], domain) -> int:
    avg_w = max(stats[0]["aw"], stats[1]["aw"])
    avg_h = max(stats[0]["ah"], stats[1]["ah"])
    if avg_w == 0.0 and avg_h == 0.0:
        # pure point data both sides: fine grid, capped
        return 12
    return pick_resolution(avg_w, avg_h, domain=domain, target_cells=1.0)


def _min_cover_res(stats: dict, resolution: int, domain, pad: float = 0.0,
                   max_cells: int = 4096) -> int:
    """Lower bound on the per-row cover res this side can produce
    (bbox_cover's max_cells fallback on the largest bbox, worst grid
    alignment). Never higher than any actual row's res."""
    from ..index.cells import cell_size

    w = stats["mw"] + 2 * pad
    h = stats["mh"] + 2 * pad
    for r in range(resolution, 0, -1):
        cw, ch = cell_size(r, domain)
        nx = int(np.floor(w / cw)) + 2
        ny = int(np.floor(h / ch)) + 2
        if nx * ny <= max_cells:
            return r
    return 0


def _ancestors_udf(down_to: int):
    """array<long> cells -> cells + ancestor chain down to ``down_to``.

    Vectorized over the whole Arrow batch: each cell's parents down to
    ``down_to`` appended per resolution step, then one lexsort for the
    per-row unique — no per-row Python loop. Only the cogroup pass and
    overlay's shuffle join use cover ancestors; the broadcast index is a
    single fine grid."""

    @pandas_udf("array<long>")
    def _f(cells: pd.Series) -> pd.Series:
        import pyarrow as pa

        from ..index import cells as C

        n = len(cells)
        arr = pa.array(cells, type=pa.list_(pa.int64()))
        offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        flat = arr.values.to_numpy(zero_copy_only=False).astype(
            np.int64, copy=False)
        lens = np.diff(offs)
        prow = np.repeat(np.arange(n, dtype=np.int64), lens)
        nulls = None
        if arr.null_count:
            nulls = arr.is_null().to_numpy(zero_copy_only=False)
            keep = ~np.repeat(nulls, lens)
            flat, prow = flat[keep], prow[keep]
        cflat, crow = [flat], [prow]
        if len(flat):
            res = C.cell_res(flat)
            for step in range(1, int(res.max()) - down_to + 1):
                m = res - step >= down_to
                cflat.append(C.parent(flat[m], step))
                crow.append(prow[m])
        cflat, crow = np.concatenate(cflat), np.concatenate(crow)
        order = np.lexsort((cflat, crow))
        cs, rs = cflat[order], crow[order]
        first = np.ones(len(cs), dtype=bool)
        first[1:] = (cs[1:] != cs[:-1]) | (rs[1:] != rs[:-1])
        cs, rs = cs[first], rs[first]
        bounds_ = np.append(0, np.cumsum(np.bincount(rs, minlength=n)))
        out = [None if (nulls is not None and nulls[i])
               else cs[bounds_[i]:bounds_[i + 1]]
               for i in range(n)]
        return pd.Series(out, dtype=object)

    return _f


def _widen(df: DataFrame) -> DataFrame:
    from ..conf import widen

    return widen(df)


def _widen_build(df: DataFrame, geom: str) -> DataFrame:
    """``_widen`` a ``_prep_side(widen=False)`` build side for the map
    passes that read it after the broadcast decision. Its bbox is
    recomputed after the repartition, so the bounds UDF runs in the
    widened tasks, as on a side prepped with ``widen``."""
    return _widen(df.drop("__bb")).withColumn("__bb", st_bounds(geom))


def _collect_first(build: DataFrame) -> bool:
    """Whether a broadcast-candidate build side is collected before it
    is sized. Collecting first sizes and builds from one job, but a
    build that then takes the shuffle pass has moved its WKB to the
    driver for nothing. So only a build whose plan size estimate is
    within Spark's own no-look broadcast bound
    (``spark.sql.autoBroadcastJoinThreshold``) is collected first; a
    larger one is sized by ``_side_stats`` and collected only if it
    fits. The estimate is Spark's (file sizes scaled through the plan);
    where it is unavailable the build is collected first."""
    try:
        limit = build.sparkSession._jsparkSession.sessionState().conf() \
            .autoBroadcastJoinThreshold()
        size = build._jdf.queryExecution().optimizedPlan().stats() \
            .sizeInBytes()
        return int(size) <= int(limit)
    except Exception:
        return True


def _plan_broadcast(raw_left: DataFrame, left_geom: str, right: DataFrame,
                    rid: str, right_geom: str, resolution: int | None,
                    domain, broadcast_right: bool | None):
    """sjoin's and overlay's broadcast decision. A build side ``right``
    whose broadcast is forced or whose plan is small
    (``_collect_first``) is Arrow-collected ONCE, bounded at
    BROADCAST_MAX_ROWS unless forced, and its stats come from that
    table; a larger one is sized by ``_side_stats`` and collected only
    when it fits. The probe's stats (``_side_stats``, one job over the
    raw, un-widened ``raw_left``) run only when ``resolution`` is not
    given. Returns (BuildIndex or None, stats or None, resolution): None
    = fall back to the shuffle pass, reusing ``stats`` ([probe or None,
    build]) when the build was sized."""
    from ._buildindex import BuildIndex, collect_build

    table = None
    if broadcast_right or _collect_first(right):
        table = collect_build(right, rid, right_geom,
                              None if broadcast_right else BROADCAST_MAX_ROWS)
        if table is None:
            return None, None, resolution
        stats = [None, table.stats()]
    else:
        stats = [None, _side_stats(right, right_geom)]
    res = resolution
    if res is None:
        stats[0] = _side_stats(raw_left, left_geom)
        res = _estimate_resolution(stats, domain)
    if not (broadcast_right
            or (0 < stats[1]["n"] and _est_exploded(stats[1], res, domain)
                <= BROADCAST_EXPLODED_ROWS)):
        return None, stats, resolution
    if table is None:  # fits, so n <= BROADCAST_MAX_ROWS: no bound needed
        table = collect_build(right, rid, right_geom)
    return BuildIndex(table, res, domain), stats, res


def _broadcast_probe_refined(lraw, build, predicate: str, distance,
                             lpad: float, carry: list[str]):
    """Broadcast spatial join as a single probe-side ``mapInArrow`` pass.

    The build side (small enough to broadcast by this path's
    precondition) ships ONCE per worker as a ``_buildindex.BuildIndex``
    and is decoded once per worker process; the probe side streams
    through a single Arrow pass with NO join, NO explode and NO pair
    materialization: each probe row's (dwithin-padded) bbox is looked up
    in the grid-row index, the candidates are bbox-prefiltered and
    refined against the cached decoded build batch. Wire traffic is
    O(|probe| + |build|) + O(|matches|) rows out.

    ``lraw`` carries the probe geometry as ``__lgeom`` plus the ``carry``
    columns. Returns a DataFrame of matched pairs: the probe row's
    ``carry`` columns and the build id ``__xrid``. Carried columns are
    gathered from the probe's Arrow batch, so every type passes through
    unchanged (a pandas round trip would turn a NaN double into NULL).
    sjoin carries only the probe id (plus ``__lgeom`` on the narrow
    assembly path); the stream join carries every stream-side column.
    """
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    schema = StructType([lraw.schema[c] for c in carry]
                        + [StructField("__xrid", build.id_type)])
    pad = float(lpad or 0.0)

    def fn(it):
        from ..geom.kernels import bounds as _bounds
        from ..geom.predicates import pairwise_predicate
        from ..geom.wkb import from_wkb
        from ._cellstream import BUFFER_ROWS as _CAP

        b = build.load()
        rbb = b.bounds
        for batch in it:
            if batch.num_rows == 0 or b.empty:
                continue
            lb = from_wkb(batch.column("__lgeom").to_pandas())
            lbb = _bounds(lb)
            if pad:
                lbb = lbb + np.array([-pad, -pad, pad, pad])
            o_l = []
            o_r = []
            for ls, rs in b.bbox_candidates(lbb, _CAP):
                # bbox prefilter (lbb already dwithin-padded): prunes
                # exact predicate work; any predicate in VALID_PRED is
                # false on bbox-disjoint (beyond pad) pairs
                pre = ((lbb[ls, 0] <= rbb[rs, 2])
                       & (rbb[rs, 0] <= lbb[ls, 2])
                       & (lbb[ls, 1] <= rbb[rs, 3])
                       & (rbb[rs, 1] <= lbb[ls, 3]))
                ls = ls[pre]
                rs = rs[pre]
                if not len(ls):
                    continue
                ok = pairwise_predicate(predicate, lb.take(ls),
                                        b.batch.take(rs), distance)
                o_l.append(ls[ok])
                o_r.append(rs[ok])
            if o_l:
                ls = np.concatenate(o_l)
                if len(ls):
                    rs = np.concatenate(o_r)
                    cols = batch.select(carry).take(ls).columns
                    yield pa.RecordBatch.from_arrays(
                        [*cols, build.ids.take(rs)], names=[*carry, "__xrid"])

    return lraw.mapInArrow(fn, schema=schema)


def _canonical_cells(lbb: np.ndarray, rbb: np.ndarray, lres: np.ndarray,
                     rres: np.ndarray, domain) -> np.ndarray:
    """Reference-point rule: the one cell that owns a candidate pair.

    A pair sharing k cover cells is kept only in the cell, at the pair's
    coarser per-row cover res, that contains (max(minx), max(miny)) of
    the two bboxes. That point lies in both bboxes and both sides emit
    ancestors down to the other's coarsest res, so the cell is always
    among the pair's joined cells. Replaces a dropDuplicates shuffle with
    map-side math."""
    from ..index import cells as C

    rc = np.minimum(lres, rres)
    rx = np.maximum(lbb[:, 0], rbb[:, 0])
    ry = np.maximum(lbb[:, 1], rbb[:, 1])
    canon = np.empty(len(rc), dtype=np.int64)
    for r in np.unique(rc):
        m = rc == r
        canon[m] = C.point_cell(rx[m], ry[m], int(r), domain)
    return canon


def _values_equal(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Elementwise Spark SQL ``=`` on non-NULL atomic values (NaN = NaN)."""
    eq = np.asarray(a == b, dtype=bool)
    if a.dtype.kind == "f":
        eq |= np.isnan(a) & np.isnan(b)
    return eq


def _cogroup_refined(lcov, rcov, lid: str, rid: str, predicate: str,
                     distance, lpad: float, resolution: int, domain,
                     salt_hot_cells: bool, hot_cell_threshold: int,
                     salt_factor: int, emit_geom: bool = False,
                     on_attribute: list[str] = ()):
    """Shuffle spatial join as a union-cogroup-by-cell streaming pass.

    Round-2 scale fix for the big×big path: instead of a hash join whose
    OUTPUT carries both geometries per candidate pair into a refine UDF
    (O(pairs) shuffle+Arrow payload), both sides are union-tagged and
    hash-partitioned by (cell, salt) — each geometry crosses the wire
    once per cover cell, pairs are generated in-kernel per cell group,
    deduped by the canonical-cell rule, refined, and leave the pass as
    id pairs.  Explicit hot-cell salting (north rule): build rows of hot
    cells are replicated into ``salt_factor`` buckets, probe rows hash
    into one bucket; the kernel groups on (cell, salt) so each pair is
    still generated exactly once.

    ``on_attribute`` adds the xxhash64 of the attribute values to the
    partition/sort key and the in-kernel group split, and every candidate
    pair's values are compared exactly, so a hash collision cannot make a
    false pair. Spark SQL ``=`` semantics: rows with a NULL attribute
    never pair (outer joins re-attach them at assembly), NaN equals NaN
    and -0.0 equals 0.0 (xxhash64 hashes both alike).

    Returns a DataFrame (__xlid, __xrid[, __lgeom]) of matched pairs.
    """
    spark = lcov.sparkSession
    acols = [f"__a{i}" for i in range(len(on_attribute))]

    def tag(cov, id_col, id_alias, geom_col, side):
        if on_attribute:
            cov = cov.filter(reduce(operator.and_, [
                F.col(c).isNotNull() for c in on_attribute]))
        return cov.select(F.col(id_col).alias(id_alias),
                          F.col(geom_col).alias("__geom"),
                          *[F.col(c).alias(a)
                            for c, a in zip(on_attribute, acols)],
                          F.explode("__cells").alias("__cell"),
                          ).withColumn("__side", F.lit(side))

    lx = tag(lcov, lid, "__lid", "__lgeom", 1)
    rx = tag(rcov, rid, "__rid", "__rgeom", 0)
    salted = False
    if salt_hot_cells:
        hot = (
            rx.groupBy("__cell").count()
            .filter(F.col("count") >= int(hot_cell_threshold))
            .select(F.col("__cell").alias("__hc"))
        )
        hot_list = [r["__hc"] for r in hot.collect()]
        if hot_list:
            S = int(salt_factor)
            lx = lx.withColumn(
                "__salt",
                F.when(F.col("__cell").isin(hot_list),
                       F.pmod(F.xxhash64(F.col("__lid")), F.lit(S)))
                .otherwise(F.lit(0)).cast("long"))
            rx = rx.withColumn(
                "__salt_arr",
                F.when(F.col("__cell").isin(hot_list),
                       F.sequence(F.lit(0), F.lit(S - 1)))
                .otherwise(F.array(F.lit(0))),
            ).withColumn("__salt0", F.explode("__salt_arr")
                         ).withColumn("__salt", F.col("__salt0").cast("long")
                         ).drop("__salt_arr", "__salt0")
            salted = True
    if not salted:
        lx = lx.withColumn("__salt", F.lit(0).cast("long"))
        rx = rx.withColumn("__salt", F.lit(0).cast("long"))

    lid_t = dict(lcov.dtypes)[lid]
    rid_t = dict(rcov.dtypes)[rid]
    # explicit partition count (AQE would size this exchange by bytes;
    # the pass is compute-bound — see operators/nearest.py)
    n_parts = max(spark.sparkContext.defaultParallelism * 2,
                  int(spark.conf.get("spark.sql.shuffle.partitions")))
    tagged = lx.unionByName(rx, allowMissingColumns=True)
    keys = ["__cell", "__salt"]
    if acols:
        # hashed after the union, so both sides hash the same coerced type
        tagged = tagged.withColumn("__akey", F.xxhash64(*acols))
        keys.append("__akey")
    tagged = tagged.repartition(n_parts, *keys).sortWithinPartitions(*keys)

    pad = float(lpad or 0.0)

    def _process(pdf):
        from ..geom.kernels import bounds as _bounds
        from ..geom.predicates import pairwise_predicate
        from ..geom.ragged import _expand_ranges
        from ..geom.wkb import from_wkb
        from ..index import cells as C

        n = len(pdf)
        cell = pdf["__cell"].to_numpy(dtype=np.int64)
        side = pdf["__side"].to_numpy()
        chg = np.empty(n, dtype=bool)
        chg[0] = True
        chg[1:] = cell[1:] != cell[:-1]
        for k in keys[1:]:
            kv = pdf[k].to_numpy(dtype=np.int64)
            chg[1:] |= kv[1:] != kv[:-1]
        gid = np.cumsum(chg) - 1
        lmask = side == 1
        if not lmask.any() or lmask.all():
            return None
        lsub = np.nonzero(lmask)[0]
        rsub = np.nonzero(~lmask)[0]
        r0 = np.searchsorted(gid[rsub], gid[lsub], side="left")
        r1 = np.searchsorted(gid[rsub], gid[lsub], side="right")
        rcnt = r1 - r0
        has = rcnt > 0
        if not has.any():
            return None
        lw = pdf["__geom"].to_numpy(dtype=object)[lsub]
        rw = pdf["__geom"].to_numpy(dtype=object)[rsub]
        lb = from_wkb(pd.Series(lw))
        rb = from_wkb(pd.Series(rw))
        lbb = np.nan_to_num(_bounds(lb))
        rbb = np.nan_to_num(_bounds(rb))
        if pad:
            lbb = lbb + np.array([-pad, -pad, pad, pad])
        lres = C.cover_res(lbb[:, 0], lbb[:, 1], lbb[:, 2], lbb[:, 3],
                           resolution, domain=domain)
        rres = C.cover_res(rbb[:, 0], rbb[:, 1], rbb[:, 2], rbb[:, 3],
                           resolution, domain=domain)
        lid_arr = pdf["__lid"].to_numpy()[lsub]
        rid_arr = pdf["__rid"].to_numpy()[rsub]
        lattr = [pdf[a].to_numpy()[lsub] for a in acols]
        rattr = [pdf[a].to_numpy()[rsub] for a in acols]
        lcell = cell[lsub]
        o_lid = []
        o_rid = []
        o_lw = []
        # combo-bounded group loop — cache-resident temporaries (see
        # operators/nearest.py COMBO_CAP rationale)
        hpos = np.nonzero(has)[0]
        hcnt = rcnt[hpos]
        csum = np.cumsum(hcnt)
        from ._cellstream import BUFFER_ROWS as _CAP

        gb = [0]
        while gb[-1] < len(hpos):
            prev = csum[gb[-1] - 1] if gb[-1] else 0
            j = int(np.searchsorted(csum, prev + _CAP, side="left")) + 1
            gb.append(min(max(j, gb[-1] + 1), len(hpos)))
        for ga, gz in zip(gb[:-1], gb[1:]):
            grp = hpos[ga:gz]
            gcnt = rcnt[grp]
            li = np.repeat(grp, gcnt)
            ri = _expand_ranges(r0[grp], r1[grp])
            # bbox prefilter (lbb already dwithin-padded)
            pre = ((lbb[li, 0] <= rbb[ri, 2]) & (rbb[ri, 0] <= lbb[li, 2])
                   & (lbb[li, 1] <= rbb[ri, 3]) & (rbb[ri, 1] <= lbb[li, 3]))
            for la, ra in zip(lattr, rattr):
                pre &= _values_equal(la[li], ra[ri])
            li = li[pre]
            ri = ri[pre]
            if not len(li):
                continue
            keep = _canonical_cells(lbb[li], rbb[ri], lres[li], rres[ri],
                                    domain) == lcell[li]
            li = li[keep]
            ri = ri[keep]
            if not len(li):
                continue
            ok = pairwise_predicate(predicate, lb.take(li), rb.take(ri),
                                    distance)
            li = li[ok]
            ri = ri[ok]
            if not len(li):
                continue
            o_lid.append(lid_arr[li])
            o_rid.append(rid_arr[ri])
            if emit_geom:
                o_lw.append(lw[li])
        if not o_lid:
            return None
        d = {"__xlid": np.concatenate(o_lid),
             "__xrid": np.concatenate(o_rid)}
        if emit_geom:
            d["__lgeom"] = np.concatenate(o_lw)
        return pd.DataFrame(d)

    def fn(it):
        from ._cellstream import stream_groups

        yield from stream_groups(it, keys, _process)

    schema = f"__xlid {lid_t}, __xrid {rid_t}"
    if emit_geom:
        schema += ", __lgeom binary"
    return tagged.mapInPandas(fn, schema=schema)


def _prep_side(df: DataFrame, geom: str, id_col: str | None, tag: str,
               widen: bool = True):
    """Attach a row id (if none supplied) and bbox struct.

    ``widen`` repartitions a coarse input first (conf.widen) so the
    UDF-bearing map passes that read this frame parallelize. A broadcast
    build side is prepped with ``widen=False``: its first consumer is a
    driver collect, where the repartition only adds a shuffle stage to
    the eager job; a build that falls back to a shuffle pass is widened
    there (``_widen_build``; the checkpointed ids are already fixed).

    Auto ids come from monotonically_increasing_id, which Spark defines as
    NONDETERMINISTIC across plan branches — the join assembles results by
    re-joining on these ids from two branches, so the id-bearing frame is
    pinned to one materialization via localCheckpoint (otherwise attribute
    rows can attach to the wrong geometry rows). localCheckpoint (lazy)
    rather than persist(): the blocks are released automatically by the
    ContextCleaner once the frame is unreferenced — persist() entries sit
    in the CacheManager until an explicit unpersist, which leaked one
    cached frame per auto-id join call in long sessions — and checkpoint
    blocks cannot be silently evicted-and-recomputed (which would reroll
    the ids)."""
    if widen:
        df = _widen(df)
    if id_col is None:
        id_col = f"__{tag}_id"
        df = df.withColumn(id_col, F.monotonically_increasing_id())
        df = df.localCheckpoint(eager=False)
    df = df.withColumn("__bb", st_bounds(geom))
    return df, id_col


def sjoin(
    left: DataFrame,
    right: DataFrame,
    how: str = "inner",
    predicate: str = "intersects",
    lsuffix: str = "left",
    rsuffix: str = "right",
    distance: float | None = None,
    on_attribute: list[str] | str | None = None,
    left_geom: str = "geometry",
    right_geom: str = "geometry",
    left_id: str | None = None,
    right_id: str | None = None,
    resolution: int | None = None,
    domain=DOMAIN_UNIT,
    broadcast_right: bool | None = None,
    salt_hot_cells: bool = False,
    hot_cell_threshold: int = 100_000,
    salt_factor: int = 16,
) -> DataFrame:
    """Spatial join of two WKB-geometry DataFrames.

    Matches geopandas.sjoin semantics row-for-row (tools/sjoin.py:11-97):
    returns left columns + right columns (collisions suffixed) + the
    retained side's geometry + ``index_right`` (or ``index_left``).

    ``on_attribute`` names columns (atomic types) that must also be equal
    for a pair to match, with Spark SQL ``=`` semantics: NULL never
    matches, NaN matches NaN, -0.0 matches 0.0. It always runs the
    cogroup pass (``broadcast_right`` is then ignored, as with
    ``salt_hot_cells``): the attribute hash joins the cell key and each
    pair's values are compared exactly in-kernel.
    """
    if how not in VALID_HOW:
        raise ValueError(f"`how` was {how!r} but is expected to be in {VALID_HOW}")
    if predicate not in VALID_PRED:
        raise ValueError(
            f"`predicate` was {predicate!r} but is expected to be in {VALID_PRED}"
        )
    if predicate == "dwithin" and distance is None:
        raise ValueError("`distance` is required for predicate 'dwithin'")
    # reference _basic_checks (tools/sjoin.py:123-127): the output's
    # index column names must not pre-exist, else the join would emit
    # duplicate column names
    if f"index_{lsuffix}" in left.columns:
        raise ValueError(
            f"'index_{lsuffix}' column already exists in left DataFrame")
    if f"index_{rsuffix}" in right.columns:
        raise ValueError(
            f"'index_{rsuffix}' column already exists in right DataFrame")
    if isinstance(on_attribute, str):
        on_attribute = [on_attribute]
    on_attribute = list(on_attribute or [])
    for col in on_attribute:
        if col not in left.columns or col not in right.columns:
            raise ValueError(f"on_attribute column {col!r} missing from a side")
        if col in (left_geom, right_geom):
            raise ValueError("on_attribute cannot be the geometry column")
        for df in (left, right):
            if isinstance(df.schema[col].dataType,
                          (ArrayType, MapType, StructType)):
                raise ValueError(
                    f"on_attribute column {col!r} must be an atomic type")

    raw_left = left
    left, lid = _prep_side(left, left_geom, left_id, "l")
    right, rid = _prep_side(right, right_geom, right_id, "r", widen=False)

    pad = float(distance) if (predicate == "dwithin" and distance) else 0.0

    # broadcast candidate: ONE bounded Arrow collect of the build side
    # gives its stats and, if it fits, its index. An explicit salting
    # request signals a shuffle-scale build side and on_attribute needs
    # the attribute key — both always route to the cogroup pass.
    build = stats = None
    if broadcast_right is not False and not (on_attribute or salt_hot_cells):
        build, stats, resolution = _plan_broadcast(
            raw_left, left_geom, right, rid, right_geom, resolution, domain,
            broadcast_right)
    # every later pass that reads the build side (cogroup, assembly
    # re-join) is a map pass: widen it now (ids already fixed)
    right = _widen_build(right, right_geom)

    ldata, rdata, narrow = _output_columns(
        left, right, lid, rid, left_id is None, right_id is None, left_geom,
        right_geom, how)
    if build is not None:
        # small build side: single probe-side pass, no join, no explode.
        # The probe ships ONLY (id, wkb); bounds and the index lookup
        # happen in-kernel.
        lraw = left.select(F.col(lid).alias("__xlid"),
                           F.col(left_geom).alias("__lgeom"))
        refined = _broadcast_probe_refined(
            lraw, build, predicate, distance, pad,
            carry=["__xlid", "__lgeom"] if narrow else ["__xlid"])
    else:
        if stats is None:
            stats = _bbox_stats(left, right, left_geom, right_geom)
        elif stats[0] is None:  # build stats came with its collect
            stats[0] = _side_stats(left, left_geom)
        if resolution is None:
            resolution = _estimate_resolution(stats, domain)
        # big×big: union-cogroup by cell — geometry crosses the wire once
        # per cover cell, pairs leave as ids. Cover from the __bb struct
        # computed in _prep_side (no second WKB decode); dwithin covers
        # the probe bbox padded by the distance.
        def cover(df, p):
            return df.withColumn("__cells", st_cells_from_bbox(
                F.col("__bb.minx") - p, F.col("__bb.miny") - p,
                F.col("__bb.maxx") + p, F.col("__bb.maxy") + p,
                resolution, domain=domain))

        lcov = cover(left.select(lid, F.col(left_geom).alias("__lgeom"),
                                 "__bb", *on_attribute), pad)
        rcov = cover(right.select(rid, F.col(right_geom).alias("__rgeom"),
                                  "__bb", *on_attribute), 0.0)
        # coarsest cover res each side can fall back to (giant bboxes):
        # the other side must emit ancestor cells down to that level so
        # mixed-resolution pairs still meet on a common cell (SURVEY.md §4)
        lmin = _min_cover_res(stats[0], resolution, domain, pad)
        rmin = _min_cover_res(stats[1], resolution, domain, 0.0)
        if rmin < resolution:  # right may have coarse rows -> left chains
            lcov = lcov.withColumn("__cells",
                                   _ancestors_udf(rmin)(F.col("__cells")))
        if lmin < resolution:
            rcov = rcov.withColumn("__cells",
                                   _ancestors_udf(lmin)(F.col("__cells")))
        refined = _cogroup_refined(lcov, rcov, lid, rid, predicate,
                                   distance, pad, resolution, domain,
                                   salt_hot_cells, hot_cell_threshold,
                                   salt_factor, emit_geom=narrow,
                                   on_attribute=on_attribute)
    return _assemble(refined, left, right, lid, rid, ldata, rdata, narrow,
                     how, left_geom, lsuffix, rsuffix)


def _output_columns(left: DataFrame, right: DataFrame, lid: str, rid: str,
                    auto_l: bool, auto_r: bool, left_geom: str,
                    right_geom: str, how: str):
    """Data columns each side contributes to a join's output, and whether
    the narrow fast path applies (shared by sjoin, sjoin_nearest and
    overlay's how='intersection', which passes how='inner').

    Auto ids are internal and dropped; user id columns stay as ordinary
    data columns, like the pandas index does. The non-retained geometry
    is dropped BEFORE suffixing — the retained geometry keeps its
    original name (reference _frame_join behavior).

    Narrow: how='inner' and both sides carry nothing beyond (id,
    geometry). Every output column then flows through the pair pass
    directly (the pass emits the probe WKB per match), skipping BOTH
    assembly joins — the dominant shuffles at scale. Every other shape
    re-joins by id, where per-match WKB through Arrow would be pure
    serialization waste. Decided before the pass: it steers what the
    pass emits."""
    ldata = [c for c in left.columns
             if c != "__bb" and not (auto_l and c == lid)]
    rdata = [c for c in right.columns
             if c != "__bb" and not (auto_r and c == rid)]
    if how == "right":
        ldata = [c for c in ldata if c != left_geom]
    else:
        rdata = [c for c in rdata if c != right_geom]
    narrow = (how == "inner" and set(ldata) <= {lid, left_geom}
              and set(rdata) <= {rid})
    return ldata, rdata, narrow


def _assemble(matched: DataFrame, left: DataFrame, right: DataFrame,
              lid: str, rid: str, ldata: list[str], rdata: list[str],
              narrow: bool, how: str, left_geom: str, lsuffix: str,
              rsuffix: str, distance_col: str | None = None) -> DataFrame:
    """Join output from matched (__xlid, __xrid[, __lgeom][, __d]) pairs.

    Narrow: select straight from the pass. Otherwise re-join both sides'
    data columns by id (suffixing collisions), attach ``index_right``
    (``index_left`` for how='right'; outer rows null-padded) and, for
    sjoin_nearest, the ``__d`` distance as ``distance_col``."""
    if narrow:
        # collision naming must mirror _suffix_columns (ADVICE fix): when
        # the two user id columns share a name, BOTH get suffixed, so the
        # fast path emits the same schema as the general assembly
        collide = lid in ldata and rid in rdata and lid == rid
        cols = []
        if lid in ldata:
            cols.append(F.col("__xlid").alias(
                f"{lid}_{lsuffix}" if collide else lid))
        cols.append(F.col("__lgeom").alias(left_geom))
        if rid in rdata:
            cols.append(F.col("__xrid").alias(
                f"{rid}_{rsuffix}" if collide else rid))
        cols.append(F.col("__xrid").alias("index_right"))
        if distance_col is not None:
            cols.append(F.col("__d").alias(distance_col))
        return matched.select(*cols)

    lmap, rmap = _suffix_columns(left.select(ldata), right.select(rdata),
                                 lsuffix, rsuffix, exclude=set())
    lfull = left.select(*[F.col(c).alias(lmap.get(c, c)) for c in ldata],
                        F.col(lid).alias("__LID"))
    rfull = right.select(*[F.col(c).alias(rmap.get(c, c)) for c in rdata],
                         F.col(rid).alias("__RID"))
    pairs = matched.select(F.col("__xlid").alias("__LID"),
                           F.col("__xrid").alias("__RID"),
                           *(["__d"] if distance_col is not None else []))

    if how in ("inner", "left"):
        joined = (
            lfull.join(pairs, on="__LID", how="inner" if how == "inner" else "left")
            .join(rfull, on="__RID", how="left")
            .withColumn("index_right", F.col("__RID"))
        )
        if distance_col is not None:
            joined = joined.withColumn(distance_col, F.col("__d"))
    else:
        joined = (
            rfull.join(pairs, on="__RID", how="left")
            .join(lfull, on="__LID", how="left")
            .withColumn("index_left", F.col("__LID"))
        )
    return joined.drop("__LID", "__RID", "__d")
