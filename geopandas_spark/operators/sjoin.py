"""Distributed spatial join — the engine's flagship operator.

Reference contract: ``geopandas.sjoin`` (/root/reference/geopandas/tools/
sjoin.py:11-97): pair (l, r) kept iff predicate(l.geom, r.geom); how in
{inner, left, right}; optional ``on_attribute`` equality conjunct;
column collisions suffixed (sjoin.py:193-224); outer rows null-padded
(sjoin.py:239-262).

Physical plan (SURVEY.md §2.4 / §4), designed for 1000-executor scale:

1. **Prep + plan**: each side gets a row id (if none supplied) and a
   bbox struct; the join planner (operators/_planner.py) sizes the right
   (build) side, picks the grid resolution and chooses the pass below.
2. **Pair pass**: one of two ``mapInPandas``/``mapInArrow`` kernels.
   Candidate pairs are generated, deduped and refined with the exact
   vectorized predicate (geom/predicates.py) in-kernel, and leave the
   pass as id pairs — no per-pair WKB crosses an Arrow boundary.

   * **Broadcast probe** (``_broadcast_probe_refined``): chosen when the
     planner finds the right side's exploded cover small enough (or
     ``broadcast_right=True``) and neither ``on_attribute`` nor
     ``salt_hot_cells`` is set. The right side is collected once into
     the shared grid-row index (``_buildindex.BuildIndex``: one fine
     grid, one sorted key range per grid row, giant rows as candidates
     of every probe) and broadcast; the left side streams through one
     pass that looks each (dwithin-padded) bbox up, dedups on the
     (probe, build) key where a pair can repeat, and refines. No join,
     no shuffle.
   * **Cogroup** (``_cogroup_pairs`` with the ``_refine_body``
     kernel): every other case. Both sides are exploded per cover cell
     of one fine grid (the broadcast index's layout), union-tagged and
     hash-partitioned by (cell, salt[, attribute hash]). Each group's
     pairs are generated in-kernel and kept only in their canonical
     cell (reference-point rule, ``_canonical_cells``); ``on_attribute``
     equality is checked exactly per pair. A giant row (its cover over
     the cell limit) skips the cells: the planner collects and
     broadcasts a side's giants, keyed on a coarser grid of their own,
     and ``_giant_pairs`` streams the other side against them through
     the same kernel. Hot cells are salted
     on request (build rows replicated into salt buckets, probe rows
     hashed into one). The same pass, with another kernel, is overlay's
     and overlay_candidates' shuffle plan, and its block function
     ``_cell_candidates`` is ``sjoin_bucketed``'s.
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
from pyspark.sql.types import ArrayType, MapType, StructType

from .. import conf
from ..functions.st import st_bounds
from ..index.cells import DOMAIN_UNIT
from ._buildindex import BuildIndex
from ._planner import plan_join

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


def _check_keys(left: DataFrame, right: DataFrame, cols: list[str],
                geoms: tuple[str, str], name: str) -> None:
    """Validate the equality-key columns of a cogroup pass (sjoin's
    ``on_attribute``, overlay's ``pair_on``): on both sides, not a
    geometry column, of an atomic type."""
    for col in cols:
        if col not in left.columns or col not in right.columns:
            raise ValueError(f"{name} column {col!r} missing from a side")
        if col in geoms:
            raise ValueError(f"{name} cannot be the geometry column")
        for df in (left, right):
            if isinstance(df.schema[col].dataType,
                          (ArrayType, MapType, StructType)):
                raise ValueError(
                    f"{name} column {col!r} must be an atomic type")


def _widen_build(df: DataFrame, geom: str) -> DataFrame:
    """``conf.widen`` a ``_prep_side(widen=False)`` build side for the
    map passes that read it (a shuffle pair pass, an assembly re-join);
    its driver collect reads the un-widened frame. Called only once the
    plan shows such a pass, since the widen's partition count costs a
    physical planning. Its bbox is recomputed after the repartition, so
    the bounds UDF runs in the widened tasks, as on a side prepped with
    ``widen``."""
    return conf.widen(df.drop("__bb")).withColumn("__bb", st_bounds(geom))


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
                pre = _pair_mask(ls, rs, lbb, rbb)
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


def _canonical_cells(lbb: np.ndarray, rbb: np.ndarray, resolution: int,
                     domain) -> np.ndarray:
    """Reference-point rule: the one cell that owns a candidate pair.

    A pair sharing k cover cells is kept only in the cell that contains
    (max(minx), max(miny)) of the two bboxes. That point lies in both
    bboxes, and both sides cover every cell of their bbox at the one
    resolution, so the cell is always among the pair's joined cells.
    Replaces a dropDuplicates shuffle with map-side math."""
    from ..index import cells as C

    return C.point_cell(np.maximum(lbb[:, 0], rbb[:, 0]),
                        np.maximum(lbb[:, 1], rbb[:, 1]), resolution, domain)


def _values_equal(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Elementwise Spark SQL ``=`` on non-NULL atomic values (NaN = NaN)."""
    eq = np.asarray(a == b, dtype=bool)
    if a.dtype.kind == "f":
        eq |= np.isnan(a) & np.isnan(b)
    return eq


def _pair_mask(li, ri, lbb, rbb, lattr=(), rattr=()) -> np.ndarray:
    """Which candidate pairs (li, ri) can match: their bboxes (the left
    one already dwithin-padded) overlap or touch, and their attribute
    values are equal (``_values_equal``). Shared by the cell cogroup,
    the giant pass and the broadcast probes."""
    m = ((lbb[li, 0] <= rbb[ri, 2]) & (rbb[ri, 0] <= lbb[li, 2])
         & (lbb[li, 1] <= rbb[ri, 3]) & (rbb[ri, 1] <= lbb[li, 3]))
    for la, ra in zip(lattr, rattr):
        m &= _values_equal(la[li], ra[ri])
    return m


def _cell_candidates(lg, rg, lcell, lbb, rbb, resolution, domain,
                     lattr=(), rattr=()):
    """Candidate pairs of one block of cell groups, yielded as (li, ri)
    row-index chunks built from at most ~``BUFFER_ROWS`` cross-product
    pairs each (cache-resident temporaries; see operators/nearest.py
    COMBO_CAP).

    ``lg`` / ``rg`` are the sorted group numbers of the left / right
    rows; each left row meets every right row of its group. A pair is
    kept when it passes ``_pair_mask`` and the left row's group cell
    ``lcell`` is the pair's canonical cell at ``resolution``, so a pair
    that shares several cells comes out once."""
    from ..geom.ragged import _expand_ranges
    from ._cellstream import BUFFER_ROWS

    r0 = np.searchsorted(rg, lg, side="left")
    r1 = np.searchsorted(rg, lg, side="right")
    hpos = np.nonzero(r1 > r0)[0]
    csum = np.cumsum(r1[hpos] - r0[hpos])
    ga = 0
    while ga < len(hpos):
        prev = csum[ga - 1] if ga else 0
        gz = int(np.searchsorted(csum, prev + BUFFER_ROWS, side="left")) + 1
        gz = min(max(gz, ga + 1), len(hpos))
        grp = hpos[ga:gz]
        ga = gz
        li = np.repeat(grp, r1[grp] - r0[grp])
        ri = _expand_ranges(r0[grp], r1[grp])
        pre = _pair_mask(li, ri, lbb, rbb, lattr, rattr)
        li = li[pre]
        ri = ri[pre]
        if not len(li):
            continue
        keep = _canonical_cells(lbb[li], rbb[ri], resolution,
                                domain) == lcell[li]
        if keep.any():
            yield li[keep], ri[keep]


_BCOLS = ["__bx0", "__by0", "__bx1", "__by1"]


def _pass_rows(df: DataFrame, id_col: str, id_alias: str, geom,
               on_attribute: list[str], *extra) -> DataFrame:
    """The columns a shuffle pair pass reads of one prepped side: its id
    as ``id_alias``, its ``__bb`` as ``_BCOLS``, its WKB as ``__geom``
    (when ``geom`` names it) and the ``on_attribute`` values as
    ``__a0``..; rows with a NULL attribute never pair and are dropped."""
    if on_attribute:
        df = df.filter(reduce(operator.and_, [
            F.col(c).isNotNull() for c in on_attribute]))
    return df.select(
        F.col(id_col).alias(id_alias),
        *[F.col(f"__bb.{f}").alias(c)
          for f, c in zip(("minx", "miny", "maxx", "maxy"), _BCOLS)],
        *([F.col(geom).alias("__geom")] if geom else []),
        *[F.col(c).alias(f"__a{i}") for i, c in enumerate(on_attribute)],
        *extra)


def _cogroup_pairs(plan, left: DataFrame, right: DataFrame, lid: str,
                   rid: str, body, schema: str, *, geoms=None,
                   pad: float = 0.0, on_attribute: list[str] = (),
                   salt: tuple[int, int] | None = None) -> DataFrame:
    """The shuffle pair pass of sjoin, overlay and overlay_candidates: a
    union-cogroup by cover cell.

    Instead of a hash join whose OUTPUT carries both geometries per
    candidate pair into a UDF (O(pairs) shuffle and Arrow payload), both
    prepped sides are exploded per ``plan`` cover cell (the probe bbox
    padded by ``pad``), union-tagged and hash-partitioned by (cell, salt):
    each row crosses the wire once per cover cell, carrying its id, its
    ``__bb`` bbox and, when ``geoms`` names the two geometry columns, its
    WKB as ``__geom``. Each block of groups gets its candidate pairs from
    ``_cell_candidates``; ``body(l, r, lbb, rbb)`` makes the block's pair
    kernel from its left and right rows (pandas, ids as ``__lid`` /
    ``__rid``) and bboxes, and that kernel maps each (li, ri) chunk to
    output rows of ``schema`` (or None). Giant rows (``plan.giants``)
    have an empty cover and skip the cells: ``_giant_pairs`` runs the
    same ``body`` on their pairs, and its rows are unioned in.

    ``salt`` = (hot_cell_threshold, salt_factor): build rows of hot cells
    are replicated into ``salt_factor`` buckets, probe rows hash into one
    bucket; the kernel groups on (cell, salt) so each pair is still
    generated exactly once.

    ``on_attribute`` adds the xxhash64 of the attribute values to the
    partition/sort key and the in-kernel group split, and every candidate
    pair's values are compared exactly, so a hash collision cannot make a
    false pair. Spark SQL ``=`` semantics: rows with a NULL attribute
    never pair (outer joins re-attach them at assembly), NaN equals NaN
    and -0.0 equals 0.0 (xxhash64 hashes both alike).
    """
    spark = left.sparkSession
    acols = [f"__a{i}" for i in range(len(on_attribute))]
    lgeom, rgeom = geoms or (None, None)
    lx = _pass_rows(left, lid, "__lid", lgeom, on_attribute,
                    F.explode(plan.cover(pad)).alias("__cell"),
                    F.lit(1).alias("__side"))
    rx = _pass_rows(right, rid, "__rid", rgeom, on_attribute,
                    F.explode(plan.cover()).alias("__cell"),
                    F.lit(0).alias("__side"))
    lsalt = rsalt = F.lit(0).cast("long")
    if salt is not None:
        threshold, factor = salt
        hot_list = [r["__cell"] for r in rx.groupBy("__cell").count()
                    .filter(F.col("count") >= int(threshold)).collect()]
        if hot_list:
            hot = F.col("__cell").isin(hot_list)
            lsalt = F.when(hot, F.pmod(F.xxhash64("__lid"), F.lit(int(factor)))
                           ).otherwise(0).cast("long")
            rsalt = F.explode(F.when(hot, F.sequence(F.lit(0), F.lit(
                int(factor) - 1))).otherwise(F.array(F.lit(0)))
                .cast("array<long>"))
    lx = lx.withColumn("__salt", lsalt)
    rx = rx.withColumn("__salt", rsalt)

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
    resolution, domain = plan.resolution, plan.domain

    def _process(pdf):
        lmask = pdf["__side"].to_numpy() == 1
        if not lmask.any() or lmask.all():
            return None
        kv = pdf[keys].to_numpy(dtype=np.int64)
        gid = np.cumsum(np.r_[True, (kv[1:] != kv[:-1]).any(axis=1)])
        cell = kv[:, 0]
        bb = np.nan_to_num(pdf[_BCOLS].to_numpy(dtype=np.float64))
        lbb = bb[lmask]
        if pad:
            lbb = lbb + np.array([-pad, -pad, pad, pad])
        rbb = bb[~lmask]
        l = pdf[lmask].reset_index(drop=True)
        r = pdf[~lmask].reset_index(drop=True)
        pairs = None
        out = []
        for li, ri in _cell_candidates(
                gid[lmask], gid[~lmask], cell[lmask], lbb, rbb, resolution,
                domain, [l[a].to_numpy() for a in acols],
                [r[a].to_numpy() for a in acols]):
            if pairs is None:  # first candidates: decode once per block
                pairs = body(l, r, lbb, rbb)
            o = pairs(li, ri)
            if o is not None:
                out.append(o)
        return pd.concat(out, ignore_index=True) if out else None

    def fn(it):
        from ._cellstream import stream_groups

        yield from stream_groups(it, keys, _process)

    out = tagged.mapInPandas(fn, schema=schema)
    pgiants, bgiants = plan.giants
    if bgiants is not None:
        out = out.unionByName(_giant_pairs(
            plan, left, lid, lgeom, bgiants, True, body, schema, pad,
            on_attribute))
    if pgiants is not None:
        out = out.unionByName(_giant_pairs(
            plan, right, rid, rgeom, pgiants, False, body, schema, pad,
            on_attribute))
    return out


def _giant_pairs(plan, stream: DataFrame, id_col: str, geom, giants,
                 probe: bool, body, schema: str, pad: float,
                 on_attribute: list[str]) -> DataFrame:
    """The giant pass: pairs of one side's rows with the other side's
    giants (``plan.giants``: rows whose cover exceeds the cell limit, so
    the cell cogroup never sees them), broadcast like a build side.

    ``probe`` True streams every probe row against the build giants;
    False streams the build's non-giant rows (split by the cover's own
    rule, ``_planner._giant``) against the probe giants. So a pair with
    a build giant comes out of the first, one with only a probe giant
    out of the second, and every other pair out of the cogroup: each
    exactly once.
    The giants are keyed on a grid of their own, where an average giant
    covers ~1-2 cells (``_buildindex.grid_keys``; one far past the
    average is an always-row), so a streamed row meets only the giants
    near it. Every candidate pair that passes ``_pair_mask`` goes to the
    cogroup's ``body(l, r, lbb, rbb)``, the giants as the other side's
    rows."""
    from ..index.cells import pick_resolution
    from ._buildindex import GridIndex, grid_keys
    from ._planner import _giant

    from pyspark.sql.pandas.serializers import ArrowStreamPandasSerializer
    from pyspark.sql.types import BinaryType

    acols = [f"__a{i}" for i in range(len(on_attribute))]
    spark = stream.sparkSession
    # the giants' ids, keys and WKB, converted as mapInPandas converts
    # the streamed rows (session time zone), so their values compare
    # equal: toArrow hands timestamps over tz-aware in UTC, a pandas UDF
    # naive in session time
    ser = ArrowStreamPandasSerializer(
        spark.conf.get("spark.sql.session.timeZone"), False, False)
    g = pd.DataFrame({
        n: ser.arrow_to_pandas(c, 0, spark_type=t) for n, c, t in zip(
            ["__rid" if probe else "__lid", *acols, "__geom"],
            [*giants.tbl.column("i").combine_chunks().flatten(),
             giants.tbl.column("g")],
            [*[f.dataType for f in giants.id_type.fields], BinaryType()])})
    gbb = giants.bb if probe else giants.bb + np.array([-pad, -pad, pad, pad])
    st = giants.stats()
    gres = min(plan.resolution, pick_resolution(st["aw"], st["ah"],
                                                domain=plan.domain))
    bc = spark.sparkContext.broadcast(
        (g, gbb, grid_keys(gbb, gres, plan.domain)))
    resolution, domain = plan.resolution, plan.domain

    def fn(it):
        from ._cellstream import BUFFER_ROWS

        g, gbb, keys = bc.value
        index = GridIndex(keys, len(g), gres, domain)
        for pdf in it:
            sbb = pdf[_BCOLS].to_numpy(dtype=np.float64)
            if probe:
                sbb = sbb + np.array([-pad, -pad, pad, pad])
                l, r, lbb, rbb = pdf, g, sbb, gbb
            else:  # a build giant's pairs came out of the probe pass
                keep = ~_giant(sbb, resolution, domain)
                pdf = pdf[keep].reset_index(drop=True)
                sbb = sbb[keep]
                l, r, lbb, rbb = g, pdf, gbb, sbb
            lattr = [l[a].to_numpy() for a in acols]
            rattr = [r[a].to_numpy() for a in acols]
            pairs = None
            for si, gi in index.bbox_candidates(sbb, BUFFER_ROWS):
                li, ri = (si, gi) if probe else (gi, si)
                ok = _pair_mask(li, ri, lbb, rbb, lattr, rattr)
                if not ok.any():
                    continue
                if pairs is None:  # first candidates: decode once per batch
                    pairs = body(l, r, lbb, rbb)
                o = pairs(li[ok], ri[ok])
                if o is not None:
                    yield o

    return _pass_rows(stream, id_col, "__lid" if probe else "__rid", geom,
                      on_attribute).mapInPandas(fn, schema=schema)


def _refine_body(predicate: str, distance, emit_geom: bool):
    """sjoin's ``_cogroup_pairs`` kernel: the exact predicate, as matched
    (__xlid, __xrid[, __lgeom]) pairs; no candidate pair's WKB leaves the
    pass."""

    def body(l, r, lbb, rbb):
        from ..geom.predicates import pairwise_predicate
        from ..geom.wkb import from_wkb

        lw = l["__geom"].to_numpy(dtype=object)
        lb = from_wkb(lw)
        rb = from_wkb(r["__geom"])
        lid = l["__lid"].to_numpy()
        rid = r["__rid"].to_numpy()

        def pairs(li, ri):
            ok = pairwise_predicate(predicate, lb.take(li), rb.take(ri),
                                    distance)
            li = li[ok]
            ri = ri[ok]
            if not len(li):
                return None
            d = {"__xlid": lid[li], "__xrid": rid[ri]}
            if emit_geom:
                d["__lgeom"] = lw[li]
            return pd.DataFrame(d)

        return pairs

    return body


def _prep_side(df: DataFrame, geom: str, id_col: str | None, tag: str,
               widen: bool = True):
    """Attach a row id (if none supplied) and bbox struct.

    ``widen`` repartitions a coarse input first (conf.widen) so the
    UDF-bearing map passes that read this frame parallelize. A broadcast
    build side is prepped with ``widen=False``: its first consumer is a
    driver collect, where the repartition only adds a shuffle stage to
    the eager job; the map passes that read it after the plan is chosen
    read it through ``_widen_build`` (the checkpointed ids are already
    fixed).

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
        df = conf.widen(df)
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
    _check_keys(left, right, on_attribute, (left_geom, right_geom),
                "on_attribute")

    raw_left = left
    left, lid = _prep_side(left, left_geom, left_id, "l")
    right, rid = _prep_side(right, right_geom, right_id, "r", widen=False)

    pad = float(distance) if (predicate == "dwithin" and distance) else 0.0
    # an explicit salting request signals a shuffle-scale build side and
    # on_attribute needs the attribute key: both take the cogroup pass
    plan = plan_join(
        raw_left, right, rid, (left_geom, right_geom), resolution,
        domain, broadcast=(False if on_attribute or salt_hot_cells
                           else broadcast_right), prepped=(left, lid),
        pad=pad, keys=on_attribute)

    ldata, rdata, narrow = _output_columns(
        left, right, lid, rid, left_id is None, right_id is None, left_geom,
        right_geom, how)
    if plan.table is None or not narrow:
        # the passes that read the build side after the decision (cogroup,
        # assembly re-join) are map passes: widen it (ids already fixed)
        right = _widen_build(right, right_geom)
    if plan.table is not None:
        # small build side: single probe-side pass, no join, no explode.
        # The probe ships ONLY (id, wkb); bounds and the index lookup
        # happen in-kernel.
        lraw = left.select(F.col(lid).alias("__xlid"),
                           F.col(left_geom).alias("__lgeom"))
        refined = _broadcast_probe_refined(
            lraw, BuildIndex(plan.table, plan.resolution, domain), predicate,
            distance, pad,
            carry=["__xlid", "__lgeom"] if narrow else ["__xlid"])
    else:
        # big×big: union-cogroup by cell — geometry crosses the wire once
        # per cover cell, pairs leave as ids; dwithin covers the probe
        # bbox padded by the distance
        schema = (f"__xlid {dict(left.dtypes)[lid]}, "
                  f"__xrid {dict(right.dtypes)[rid]}")
        refined = _cogroup_pairs(
            plan, left, right, lid, rid,
            _refine_body(predicate, distance, narrow),
            schema + (", __lgeom binary" if narrow else ""),
            geoms=(left_geom, right_geom), pad=pad,
            on_attribute=on_attribute,
            salt=((hot_cell_threshold, salt_factor) if salt_hot_cells
                  else None))
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
