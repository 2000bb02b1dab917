"""st_* column-function library — the engine's public UDF surface.

Every §2.2/2.3/2.7 operator of the reference becomes a documented function
over WKB BinaryType columns, usable in ``df.select``/``df.filter``. All are
Arrow-vectorized pandas UDFs delegating to geopandas_spark.geom kernels
(no per-row Python — BASELINE.json input_hint). Reference parity cited per
function (paths under /root/reference/geopandas/).

Implementation note: parameters (distance, tolerance, resolution, ...) are
closed over at call time — each call builds a fresh pandas_udf. Spark
serializes the closure to executors once per stage; the numpy kernels are
imported lazily inside the UDF so executors never need GEOS.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..index.cells import DOMAIN_UNIT

__all__ = [
    "st_point", "st_geomfromtext", "st_astext", "st_area", "st_length",
    "st_centroid", "st_centroid_xy", "st_bounds", "st_x", "st_y",
    "st_geometry_type", "st_is_empty", "st_num_coordinates",
    "st_num_geometries", "st_envelope", "st_convex_hull", "st_boundary",
    "st_reverse", "st_force_2d", "st_buffer", "st_simplify", "st_translate",
    "st_rotate", "st_scale", "st_affine", "st_clip_by_rect", "st_cells",
    "st_cell_point", "st_hilbert", "st_predicate", "st_intersects",
    "st_contains", "st_within", "st_covers", "st_covered_by", "st_touches",
    "st_crosses", "st_overlaps", "st_dwithin", "st_equals", "st_distance",
]


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# constructors / serialization


def st_point(x, y) -> Column:
    """points_from_xy (array.py:228, geoseries.py:388) -> WKB points."""

    @pandas_udf("binary")
    def _f(xs: pd.Series, ys: pd.Series) -> pd.Series:
        from ..geom.ragged import points_batch
        from ..geom.wkb import to_wkb

        miss = xs.isna().to_numpy() | ys.isna().to_numpy()
        b = points_batch(
            np.nan_to_num(xs.to_numpy(dtype=np.float64)),
            np.nan_to_num(ys.to_numpy(dtype=np.float64)),
            mask_missing=miss,
        )
        return pd.Series(list(to_wkb(b)))

    return _f(_col(x), _col(y))


def st_geomfromtext(wkt, on_invalid: str = "raise") -> Column:
    """from_wkt (array.py:135)."""

    @pandas_udf("binary")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom.wkb import to_wkb
        from ..geom.wkt import from_wkt

        return pd.Series(list(to_wkb(from_wkt(s, on_invalid=on_invalid))))

    return _f(_col(wkt))


def st_astext(geom, rounding: int | None = None) -> Column:
    """to_wkt (array.py:184)."""

    @pandas_udf("string")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom.wkb import from_wkb
        from ..geom.wkt import to_wkt

        return pd.Series(list(to_wkt(from_wkb(s), rounding=rounding)))

    return _f(_col(geom))


# ---------------------------------------------------------------------------
# scalar measures


def _scalar_udf(kernel_name: str, ret: str):
    @pandas_udf(ret)
    def _f(s: pd.Series) -> pd.Series:
        from ..geom import kernels
        from ..geom.wkb import from_wkb

        b = from_wkb(s)
        return pd.Series(getattr(kernels, kernel_name)(b))

    return _f


def st_area(geom) -> Column:
    """base.py:39."""
    return _scalar_udf("area", "double")(_col(geom))


def st_length(geom) -> Column:
    """base.py:153."""
    return _scalar_udf("length", "double")(_col(geom))


def st_x(geom) -> Column:
    """geoseries.py:171."""
    return _scalar_udf("get_x", "double")(_col(geom))


def st_y(geom) -> Column:
    """geoseries.py:199."""
    return _scalar_udf("get_y", "double")(_col(geom))


def st_num_coordinates(geom) -> Column:
    """base.py:321."""
    return _scalar_udf("count_coordinates", "long")(_col(geom))


def st_num_geometries(geom) -> Column:
    """base.py:364."""
    return _scalar_udf("count_geometries", "long")(_col(geom))


def st_bounds(geom) -> Column:
    """base.py:4672 — struct<minx,miny,maxx,maxy>. total_bounds is then a
    plain Spark agg over these columns (no UDF), base.py:4703."""

    @pandas_udf("minx double, miny double, maxx double, maxy double")
    def _f(s: pd.Series) -> pd.DataFrame:
        from ..geom.kernels import bounds
        from ..geom.wkb import from_wkb

        b = bounds(from_wkb(s))
        return pd.DataFrame(
            {"minx": b[:, 0], "miny": b[:, 1], "maxx": b[:, 2], "maxy": b[:, 3]}
        )

    return _f(_col(geom))


def st_centroid_xy(geom) -> Column:
    """centroid as struct<x,y> (cheap path for distance math)."""

    @pandas_udf("x double, y double")
    def _f(s: pd.Series) -> pd.DataFrame:
        from ..geom.kernels import centroid
        from ..geom.wkb import from_wkb

        c = centroid(from_wkb(s))
        return pd.DataFrame({"x": c[:, 0], "y": c[:, 1]})

    return _f(_col(geom))


def st_centroid(geom) -> Column:
    """base.py:764 — centroid as WKB point."""

    @pandas_udf("binary")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom.kernels import centroid
        from ..geom.ragged import points_batch
        from ..geom.wkb import from_wkb, to_wkb

        c = centroid(from_wkb(s))
        miss = np.isnan(c[:, 0])
        return pd.Series(list(to_wkb(points_batch(
            np.nan_to_num(c[:, 0]), np.nan_to_num(c[:, 1]), mask_missing=miss))))

    return _f(_col(geom))


def st_geometry_type(geom) -> Column:
    """geom_type (base.py:128)."""

    @pandas_udf("string")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom.ragged import TYPE_NAMES
        from ..geom.wkb import from_wkb

        b = from_wkb(s)
        return pd.Series([TYPE_NAMES[int(t)] for t in b.types])

    return _f(_col(geom))


def st_is_empty(geom) -> Column:
    """base.py:289."""

    @pandas_udf("boolean")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom.wkb import from_wkb

        return pd.Series(from_wkb(s).is_empty())

    return _f(_col(geom))


# ---------------------------------------------------------------------------
# constructive transforms (geometry -> geometry)


def _transform_udf(fn):
    @pandas_udf("binary")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom import transforms
        from ..geom.wkb import from_wkb, to_wkb

        return pd.Series(list(to_wkb(fn(transforms, from_wkb(s)))))

    return _f


def st_envelope(geom) -> Column:
    """base.py:1115."""
    return _transform_udf(lambda t, b: t.envelope(b))(_col(geom))


def st_convex_hull(geom) -> Column:
    """base.py:861."""
    return _transform_udf(lambda t, b: t.convex_hull(b))(_col(geom))


def st_boundary(geom) -> Column:
    """base.py:729."""
    return _transform_udf(lambda t, b: t.boundary(b))(_col(geom))


def st_reverse(geom) -> Column:
    """base.py:1679."""
    return _transform_udf(lambda t, b: t.reverse(b))(_col(geom))


def st_force_2d(geom) -> Column:
    """base.py:1791."""
    return _transform_udf(lambda t, b: t.force_2d(b))(_col(geom))


def st_buffer(geom, distance: float, quad_segs: int = 8,
              cap_style: str = "round", join_style: str = "round",
              mitre_limit: float = 5.0,
              resolution: int | None = None,
              single_sided: bool = False) -> Column:
    """base.py:4806 — all geometry types. Puntal batches take the fast
    vectorized disc path (round caps only); lines/polygons buffer via
    capsule union with the Martinez-Rueda sweep
    (transforms.buffer_general), negative distances erode polygons.
    ``cap_style`` ('round'|'flat'|'square') shapes open-line endpoints
    and lone points, ``join_style`` ('round'|'mitre'|'bevel') every other
    vertex with spikes cropped at ``mitre_limit*distance``;
    ``resolution`` is the reference's alias for ``quad_segs``."""
    if resolution is not None:
        quad_segs = int(resolution)

    def _dispatch(t, b):
        from ..geom.ragged import POINT

        if not single_sided and cap_style == "round" and distance > 0 \
                and len(b) and (b.types == POINT).all() and (
                b.n_coords_per_geom() == 1).all():
            return t.buffer_points(b, distance, quad_segs)
        return t.buffer_general(b, distance, quad_segs,
                                cap_style=cap_style, join_style=join_style,
                                mitre_limit=mitre_limit,
                                single_sided=single_sided)

    return _transform_udf(_dispatch)(_col(geom))


def st_simplify(geom, tolerance: float,
                preserve_topology: bool = True) -> Column:
    """base.py:4874; ``preserve_topology`` keeps every polygon ring
    valid (collapsing/self-intersecting DP results retry at smaller
    tolerances, then keep their original vertices)."""
    return _transform_udf(
        lambda t, b: t.simplify(b, tolerance,
                                preserve_topology=preserve_topology)
    )(_col(geom))


def st_translate(geom, xoff: float = 0.0, yoff: float = 0.0) -> Column:
    """base.py:5326."""
    return _transform_udf(lambda t, b: t.translate(b, xoff, yoff))(_col(geom))


def st_rotate(geom, angle: float, origin="center", use_radians=False) -> Column:
    """base.py:5364."""
    return _transform_udf(
        lambda t, b: t.rotate(b, angle, origin, use_radians)
    )(_col(geom))


def st_scale(geom, xfact=1.0, yfact=1.0, origin="center") -> Column:
    """base.py:5414."""
    return _transform_udf(lambda t, b: t.scale(b, xfact, yfact, origin))(_col(geom))


def st_affine(geom, matrix) -> Column:
    """base.py:5284."""
    m = list(matrix)
    return _transform_udf(lambda t, b: t.affine_transform(b, m))(_col(geom))


def st_skew(geom, xs: float = 0.0, ys: float = 0.0, origin="center",
            use_radians: bool = False) -> Column:
    """base.py:5462."""
    return _transform_udf(
        lambda t, b: t.skew(b, xs, ys, origin, use_radians)
    )(_col(geom))


def st_transform_fn(geom, fn, include_z: bool = False) -> Column:
    """base.py:1751 — arbitrary user coordinate function over whole Arrow
    coordinate blocks (the UDF escape hatch; geom/transforms.transform_fn)."""
    return _transform_udf(
        lambda t, b: t.transform_fn(b, fn, include_z)
    )(_col(geom))


def st_clip_by_rect(geom, minx: float, miny: float, maxx: float, maxy: float) -> Column:
    """base.py:4305."""
    return _transform_udf(
        lambda t, b: t.clip_by_rect(b, minx, miny, maxx, maxy)
    )(_col(geom))


# ---------------------------------------------------------------------------
# indexing


def _cell_lists(flat: np.ndarray, offsets: np.ndarray,
                null: np.ndarray) -> pd.Series:
    """Ragged cells (flat ids, offsets) as an ``array<long>`` pandas UDF
    result, NULL where ``null``: lists of Python ints, sliced by ``map``
    in C with no per-row Python loop. pyspark copies each result row
    with ``list()``, and Python ints are the elements it converts
    fastest. Shared by ``st_cells`` and the join cover
    (operators/_planner.py)."""
    out = pd.Series(list(map(flat.tolist().__getitem__, map(
        slice, offsets[:-1].tolist(), offsets[1:].tolist()))), dtype=object)
    out[null] = None
    return out


def st_cells(geom, res: int, domain=DOMAIN_UNIT, compact: bool = False,
             max_cells: int = 4096) -> Column:
    """Quadtree cell cover (array<long>) of each geometry's bbox — the
    engine's global spatial index key (SURVEY.md §4: the distributed
    analogue of the STRtree bbox filter, sindex.py:45-66)."""

    @pandas_udf("array<long>")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom.kernels import bounds
        from ..geom.wkb import from_wkb
        from ..index import cells as C

        bb = bounds(from_wkb(s))
        miss = np.isnan(bb[:, 0])
        bb = np.nan_to_num(bb)
        flat, off = C.bbox_cover(bb[:, 0], bb[:, 1], bb[:, 2], bb[:, 3],
                                 res, domain=domain, max_cells=max_cells)
        if compact:
            flat, off = C.compact_cover(flat, off)
        return _cell_lists(flat, off, miss)

    return _f(_col(geom))


def st_cell_point(geom, res: int, domain=DOMAIN_UNIT) -> Column:
    """Single cell of a puntal geometry's first coordinate (long)."""

    @pandas_udf("long")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom.kernels import bounds
        from ..geom.wkb import from_wkb
        from ..index import cells as C

        bb = bounds(from_wkb(s))
        miss = np.isnan(bb[:, 0])
        ids = C.point_cell(np.nan_to_num(bb[:, 0]), np.nan_to_num(bb[:, 1]),
                           res, domain=domain)
        return pd.Series(np.where(miss, None, ids))

    return _f(_col(geom))


def st_hilbert(geom, total_bounds, level: int = 16) -> Column:
    """hilbert_distance (base.py:5624, tools/hilbert_curve.py) — spatial
    clustering key; feed to repartitionByRange / write ordering."""
    tb = tuple(float(v) for v in total_bounds)

    @pandas_udf("long")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom.kernels import bounds
        from ..geom.wkb import from_wkb
        from ..index.hilbert import hilbert_distance

        bb = bounds(from_wkb(s))
        return pd.Series(hilbert_distance(bb, tb, level))

    return _f(_col(geom))


# ---------------------------------------------------------------------------
# binary predicates / measures (row-aligned pairs, base.py §2.7)


def st_predicate(pred: str, a, b, distance: float | None = None) -> Column:
    """Generic pairwise predicate (base.py:2043-3407, sindex.py:6-8)."""

    @pandas_udf("boolean")
    def _f(sa: pd.Series, sb: pd.Series) -> pd.Series:
        from ..geom.predicates import pairwise_predicate
        from ..geom.wkb import from_wkb

        return pd.Series(
            pairwise_predicate(pred, from_wkb(sa), from_wkb(sb), distance)
        )

    return _f(_col(a), _col(b))


def st_intersects(a, b) -> Column:
    return st_predicate("intersects", a, b)


def st_contains(a, b) -> Column:
    return st_predicate("contains", a, b)


def st_within(a, b) -> Column:
    return st_predicate("within", a, b)


def st_covers(a, b) -> Column:
    return st_predicate("covers", a, b)


def st_covered_by(a, b) -> Column:
    return st_predicate("covered_by", a, b)


def st_touches(a, b) -> Column:
    return st_predicate("touches", a, b)


def st_crosses(a, b) -> Column:
    return st_predicate("crosses", a, b)


def st_overlaps(a, b) -> Column:
    return st_predicate("overlaps", a, b)


def st_equals(a, b) -> Column:
    return st_predicate("equals", a, b)


def st_dwithin(a, b, distance: float) -> Column:
    """base.py:2280 (GEOS>=3.10 gate in reference _compat.py:14-15 — here
    native)."""
    return st_predicate("dwithin", a, b, distance)


def st_disjoint(a, b) -> Column:
    """base.py:2744 — complement of intersects; missing/empty rows are
    False per the engine's never-match convention."""
    return st_predicate("disjoint", a, b)


def st_distance(a, b) -> Column:
    """base.py:3521."""

    @pandas_udf("double")
    def _f(sa: pd.Series, sb: pd.Series) -> pd.Series:
        from ..geom.predicates import pairwise_distance
        from ..geom.wkb import from_wkb

        return pd.Series(pairwise_distance(from_wkb(sa), from_wkb(sb)))

    return _f(_col(a), _col(b))


# ---------------------------------------------------------------------------
# §2.2/§2.3 completion: unary predicates, scalars, constructive ops
# (kernels in geom/unary.py; reference cites in their docstrings)


def _unary_scalar_udf(fn_name: str, ret: str, *args, **kwargs):
    @pandas_udf(ret)
    def _f(s: pd.Series) -> pd.Series:
        from ..geom import unary
        from ..geom.wkb import from_wkb

        return pd.Series(getattr(unary, fn_name)(from_wkb(s), *args, **kwargs))

    return _f


def _unary_geom_udf(fn_name: str, *args, **kwargs):
    @pandas_udf("binary")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom import unary
        from ..geom.wkb import from_wkb, to_wkb

        return pd.Series(list(to_wkb(
            getattr(unary, fn_name)(from_wkb(s), *args, **kwargs))))

    return _f


def st_is_valid(geom) -> Column:
    """base.py:209."""
    return _unary_scalar_udf("is_valid", "boolean")(_col(geom))


def st_is_valid_reason(geom) -> Column:
    """base.py:249."""

    @pandas_udf("string")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom import unary
        from ..geom.wkb import from_wkb

        _, msgs = unary.is_valid(from_wkb(s), reason=True)
        return pd.Series(list(msgs))

    return _f(_col(geom))


def st_is_simple(geom) -> Column:
    """base.py:453."""
    return _unary_scalar_udf("is_simple", "boolean")(_col(geom))


def st_is_ring(geom) -> Column:
    """base.py:481."""
    return _unary_scalar_udf("is_ring", "boolean")(_col(geom))


def st_is_ccw(geom) -> Column:
    """base.py:516."""
    return _unary_scalar_udf("is_ccw", "boolean")(_col(geom))


def st_is_closed(geom) -> Column:
    """base.py:557."""
    return _unary_scalar_udf("is_closed", "boolean")(_col(geom))


def st_has_z(geom) -> Column:
    """base.py:591."""
    return _unary_scalar_udf("has_z", "boolean")(_col(geom))


def st_z(geom) -> Column:
    """geoseries.py:227."""
    return _unary_scalar_udf("get_z", "double")(_col(geom))


def st_count_interior_rings(geom) -> Column:
    """base.py:408."""
    return _scalar_udf("count_interior_rings", "int")(_col(geom))


def st_get_geometry(geom, index: int) -> Column:
    """base.py:672."""
    return _unary_geom_udf("get_geometry", index)(_col(geom))


def st_exterior(geom) -> Column:
    """base.py:1196."""
    return _unary_geom_udf("exterior")(_col(geom))


def st_interiors(geom) -> Column:
    """base.py:1310 — array<binary> of interior-ring LineStrings."""

    @pandas_udf("array<binary>")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom import unary
        from ..geom.ragged import LINESTRING, GeometryBatchBuilder
        from ..geom.wkb import from_wkb, to_wkb

        rings_per = unary.interiors(from_wkb(s))
        out = []
        for rings in rings_per:
            if not rings:
                out.append([])
                continue
            bld = GeometryBatchBuilder()
            for r in rings:
                bld.add(LINESTRING, [(LINESTRING, [r])])
            out.append(list(to_wkb(bld.finish())))
        return pd.Series(out)

    return _f(_col(geom))


def st_extract_unique_points(geom) -> Column:
    """base.py:1234."""
    return _unary_geom_udf("extract_unique_points")(_col(geom))


def st_remove_repeated_points(geom, tolerance: float = 0.0) -> Column:
    """base.py:1351."""
    return _unary_geom_udf("remove_repeated_points", tolerance)(_col(geom))


def st_normalize(geom) -> Column:
    """base.py:1608."""
    return _unary_geom_udf("normalize")(_col(geom))


def st_segmentize(geom, max_segment_length: float) -> Column:
    """base.py:1711."""
    return _unary_geom_udf("segmentize", max_segment_length)(_col(geom))


def st_line_merge(geom, directed: bool = False) -> Column:
    """base.py:1887; ``directed=True`` never reverses a component line."""
    return _unary_geom_udf("line_merge", directed=directed)(_col(geom))


def st_force_3d(geom, z: float = 0.0) -> Column:
    """base.py:1824."""
    return _unary_geom_udf("force_3d", z)(_col(geom))


def st_minimum_rotated_rectangle(geom) -> Column:
    """base.py:1156."""
    return _unary_geom_udf("minimum_rotated_rectangle")(_col(geom))


def st_minimum_bounding_circle(geom) -> Column:
    """base.py:1509."""
    return _unary_geom_udf("minimum_bounding_circle")(_col(geom))


def st_minimum_bounding_radius(geom) -> Column:
    """base.py:1542."""
    return _unary_scalar_udf("minimum_bounding_radius", "double")(_col(geom))


def st_minimum_clearance(geom) -> Column:
    """base.py:1575."""
    return _unary_scalar_udf("minimum_clearance", "double")(_col(geom))


def st_set_precision(geom, grid_size: float,
                     mode: str = "valid_output") -> Column:
    """base.py:1389 — mode in {'valid_output' (default), 'pointwise',
    'keep_collapsed'}: the default dedupes vertices, drops collapsed
    elements and repairs snap-induced invalidity; keep_collapsed retains
    collapsed lines as 2-equal-point linestrings."""
    return _unary_geom_udf("set_precision", grid_size, mode)(_col(geom))


def st_make_valid(geom) -> Column:
    """base.py:1641 — GEOS-'linework' repair (geom/validity.py): node the
    ring linework, rebuild faces, keep odd-covered regions. Valid and
    non-polygonal rows pass through unchanged."""

    @pandas_udf("binary")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom.validity import make_valid
        from ..geom.wkb import from_wkb, to_wkb

        return pd.Series(list(to_wkb(make_valid(from_wkb(s)))))

    return _f(_col(geom))


def st_get_precision(geom) -> Column:
    """base.py:622. WKB carries no precision-grid metadata (unlike a live
    GEOS geometry), so every stored geometry reports full precision (0.0);
    missing rows are null. set_precision here is pointwise rounding, which
    by design does not attach a grid to the bytes."""

    @pandas_udf("double")
    def _f(s: pd.Series) -> pd.Series:
        return pd.Series(np.where(s.isna(), np.nan, 0.0)).astype("float64")

    return _f(_col(geom))


def st_representative_point(geom) -> Column:
    """base.py:1476 — point guaranteed within the geometry."""

    @pandas_udf("binary")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom import transforms
        from ..geom.ragged import points_batch
        from ..geom.wkb import from_wkb, to_wkb

        xy = transforms.representative_point(from_wkb(s))
        miss = np.isnan(xy[:, 0])
        return pd.Series(list(to_wkb(points_batch(
            np.nan_to_num(xy[:, 0]), np.nan_to_num(xy[:, 1]), miss))))

    return _f(_col(geom))


def st_interpolate(geom, distance, normalized: bool = False) -> Column:
    """base.py:5240."""
    return _unary_geom_udf("interpolate", distance, normalized)(_col(geom))


def st_project(line, point, normalized: bool = False) -> Column:
    """base.py:5141."""

    @pandas_udf("double")
    def _f(sl: pd.Series, sp: pd.Series) -> pd.Series:
        from ..geom import unary
        from ..geom.wkb import from_wkb

        return pd.Series(unary.project(from_wkb(sl), from_wkb(sp), normalized))

    return _f(_col(line), _col(point))


# ---------------------------------------------------------------------------
# §2.7 completion: binary measures / constructive (geom/binary.py)


def st_hausdorff_distance(a, b, densify: float | None = None) -> Column:
    """base.py:3617."""

    @pandas_udf("double")
    def _f(sa: pd.Series, sb: pd.Series) -> pd.Series:
        from ..geom import binary
        from ..geom.wkb import from_wkb

        return pd.Series(binary.hausdorff_distance(
            from_wkb(sa), from_wkb(sb), densify))

    return _f(_col(a), _col(b))


def st_frechet_distance(a, b, densify: float | None = None) -> Column:
    """base.py:3732."""

    @pandas_udf("double")
    def _f(sa: pd.Series, sb: pd.Series) -> pd.Series:
        from ..geom import binary
        from ..geom.wkb import from_wkb

        return pd.Series(binary.frechet_distance(
            from_wkb(sa), from_wkb(sb), densify))

    return _f(_col(a), _col(b))


def st_geom_equals_exact(a, b, tolerance: float = 0.0) -> Column:
    """base.py:2569."""

    @pandas_udf("boolean")
    def _f(sa: pd.Series, sb: pd.Series) -> pd.Series:
        from ..geom import binary
        from ..geom.wkb import from_wkb

        return pd.Series(binary.geom_equals_exact(
            from_wkb(sa), from_wkb(sb), tolerance))

    return _f(_col(a), _col(b))


def st_shortest_line(a, b) -> Column:
    """base.py:4370."""

    @pandas_udf("binary")
    def _f(sa: pd.Series, sb: pd.Series) -> pd.Series:
        from ..geom import binary
        from ..geom.wkb import from_wkb, to_wkb

        return pd.Series(list(to_wkb(binary.shortest_line(
            from_wkb(sa), from_wkb(sb)))))

    return _f(_col(a), _col(b))


def st_snap(a, b, tolerance: float) -> Column:
    """base.py:4473."""

    @pandas_udf("binary")
    def _f(sa: pd.Series, sb: pd.Series) -> pd.Series:
        from ..geom import binary
        from ..geom.wkb import from_wkb, to_wkb

        return pd.Series(list(to_wkb(binary.snap(
            from_wkb(sa), from_wkb(sb), tolerance))))

    return _f(_col(a), _col(b))


def st_shared_paths(a, b) -> Column:
    """base.py:4574."""

    @pandas_udf("binary")
    def _f(sa: pd.Series, sb: pd.Series) -> pd.Series:
        from ..geom import binary
        from ..geom.wkb import from_wkb, to_wkb

        return pd.Series(list(to_wkb(binary.shared_paths(
            from_wkb(sa), from_wkb(sb)))))

    return _f(_col(a), _col(b))


def st_get_coordinates_exploded(df, geom: str = "geometry",
                                id_cols: list[str] | None = None,
                                include_z: bool = False):
    """get_coordinates (base.py:5550) as a DataFrame op: one row per
    coordinate with x, y (and z when ``include_z`` — NaN for 2-D rows,
    base.py:5550-5622) and coord_index."""
    from pyspark.sql import functions as FF

    schema = ("array<struct<x:double,y:double,z:double>>" if include_z
              else "array<struct<x:double,y:double>>")

    @pandas_udf(schema)
    def _f(s: pd.Series) -> pd.Series:
        from ..geom import unary
        from ..geom.wkb import from_wkb

        coords, idx = unary.get_coordinates(from_wkb(s),
                                            include_z=include_z)
        out = []
        n = len(s)
        splits = np.searchsorted(idx, np.arange(n + 1))
        for i in range(n):
            c = coords[splits[i]:splits[i + 1]]
            if include_z:
                out.append([{"x": float(x), "y": float(y), "z": float(z)}
                            for x, y, z in c])
            else:
                out.append([{"x": float(x), "y": float(y)} for x, y in c])
        return pd.Series(out)

    cols = id_cols or [c for c in df.columns if c != geom]
    base = (
        df.select(*cols, FF.posexplode(_f(FF.col(geom)))
                  .alias("coord_index", "__c"))
    )
    sel = [*cols, "coord_index", FF.col("__c.x").alias("x"),
           FF.col("__c.y").alias("y")]
    if include_z:
        sel.append(FF.col("__c.z").alias("z"))
    return base.select(*sel)


def _pairwise_geom_udf(op: str):
    @pandas_udf("binary")
    def _f(sa: pd.Series, sb: pd.Series) -> pd.Series:
        from ..geom.clipping import pairwise_boolean, pairwise_intersection
        from ..geom.wkb import from_wkb, to_wkb

        lb = from_wkb(sa)
        rb = from_wkb(sb)
        if op == "intersection":
            return pd.Series(list(to_wkb(pairwise_intersection(lb, rb))))
        return pd.Series(list(to_wkb(pairwise_boolean(lb, rb, op))))

    return _f


def st_intersection(a, b) -> Column:
    """base.py:4192 — row-wise intersection (rectilinear/convex fast
    paths, Martinez-Rueda sweep for general polygons)."""
    return _pairwise_geom_udf("intersection")(_col(a), _col(b))


def st_difference(a, b) -> Column:
    """base.py:3852."""
    return _pairwise_geom_udf("difference")(_col(a), _col(b))


def st_union(a, b) -> Column:
    """base.py:4078 — pairwise union."""
    return _pairwise_geom_udf("union")(_col(a), _col(b))


def st_symmetric_difference(a, b) -> Column:
    """base.py:3963."""
    return _pairwise_geom_udf("symmetric_difference")(_col(a), _col(b))


def st_transform(geom, src_crs, dst_crs) -> Column:
    """to_crs (geoseries.py:878, array.py:384) — pyproj-free transforms
    (geom/crs.py): 4326/3857/UTM + the projection registry, including
    CRSs the caller added via :func:`geom.crs.register_crs` (a plan-time
    snapshot of the user registry rides in this closure so executor
    processes see driver-side registrations)."""
    from ..geom.crs import user_registry_snapshot

    _snap = user_registry_snapshot()

    @pandas_udf("binary")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom.crs import restore_user_registry, transform_xy
        from ..geom.ragged import GeometryBatch
        from ..geom.wkb import from_wkb, to_wkb

        restore_user_registry(_snap)
        b = from_wkb(s)
        x, y = transform_xy(b.coords[:, 0], b.coords[:, 1], src_crs, dst_crs)
        nb = GeometryBatch(
            types=b.types, coords=np.column_stack([x, y]),
            ring_coord_off=b.ring_coord_off, part_ring_off=b.part_ring_off,
            geom_part_off=b.geom_part_off, part_types=b.part_types,
            zs=b.zs, geom_has_z=b.geom_has_z,
        )
        return pd.Series(list(to_wkb(nb)))

    return _f(_col(geom))


def st_collect_list(geom_list) -> Column:
    """collect (tools/util.py:10-47): array<binary> -> one Multi* WKB
    gathering all parts (no union)."""

    @pandas_udf("binary")
    def _f(arrs: pd.Series) -> pd.Series:
        from ..operators.dissolve import union_batch_parts

        return pd.Series([
            union_batch_parts(list(a), "collect") if a is not None else None
            for a in arrs
        ])

    return _f(_col(geom_list))


def st_intersection_all(geom_list) -> Column:
    """intersection_all (base.py:2017): array<binary> -> WKB of the n-ary
    intersection (None entries ignored)."""

    @pandas_udf("binary")
    def _f(arrs: pd.Series) -> pd.Series:
        from ..geom import wkb as B
        from ..geom.boolean import boolean_rings, group_rings
        from ..geom.clipping import _all_poly_rings
        from ..geom.ragged import POLYGON, MULTIPOLYGON, GeometryBatchBuilder

        out = []
        for a in arrs:
            vals = [w for w in (list(a) if a is not None else []) if w is not None]
            if not vals:
                out.append(None)
                continue
            batch = B.from_wkb(vals)
            cur = _all_poly_rings(batch, 0)[0]
            for g in range(1, len(batch)):
                cur = boolean_rings(cur, _all_poly_rings(batch, g)[0],
                                    "intersection")
                if not cur:
                    break
            bld = GeometryBatchBuilder()
            polys = group_rings(cur)
            if not polys:
                bld.add(POLYGON, [(POLYGON, [])])
            elif len(polys) == 1:
                bld.add(POLYGON, [(POLYGON, polys[0])])
            else:
                bld.add(MULTIPOLYGON, [(POLYGON, r) for r in polys])
            out.append(B.to_wkb(bld.finish())[0])
        return pd.Series(out)

    return _f(_col(geom_list))


# user-pluggable sample_points methods (reference: arbitrary pointpats
# method strings, base.py:5676-5683). A sampler is
# ``fn(rng, m, ctx) -> (xs, ys)``: propose m candidate points given
# ctx = {minx,miny,maxx,maxy,cx,cy,sx,sy}; the engine rejection-clips the
# proposals to the geometry and re-draws until `size` are inside, exactly
# like the built-in methods. Register by name or pass a callable as
# ``method`` directly.
_SAMPLERS: dict = {}


def register_sampler(name: str, fn) -> None:
    """Register a custom sample_points method (pointpats-style plug-in).

    The callable must be picklable (module-level function or closure) —
    it executes inside the Arrow UDF on executors."""
    if not callable(fn):
        raise TypeError("sampler must be callable")
    _SAMPLERS[str(name)] = fn


def st_sample_points(geom, size: int, seed: int = 0, row_key=None,
                     method="uniform") -> Column:
    """sample_points (base.py:5652, tools/_random.py): points per geometry
    as a MultiPoint; deterministic per row via seed + row key.

    methods (reference: uniform natively, others via pointpats,
    base.py:5676-5683):

    * ``uniform`` — polygons by area rejection, lines by length,
      multiparts pooled.
    * ``normal`` — Gaussian around the centroid (sigma = 1/4 of the
      bbox half-extent), rejection-clipped to the geometry.
    * ``cluster_poisson`` — pointpats-style Matérn cluster process:
      uniform parent points inside the polygon, Gaussian offspring
      around a random parent, rejection-clipped. Polygons only — other
      geometry types return an empty MultiPoint, exactly the reference
      contract for pointpats methods (base.py:5676-5683).
    * any name registered via :func:`register_sampler`, or a callable
      passed directly — ``fn(rng, m, ctx) -> (xs, ys)`` proposes
      candidates that are rejection-clipped to the geometry (polygons
      only, like the pointpats methods).
    """
    custom = None
    if callable(method):
        custom = method
        method = getattr(method, "__name__", "custom")
    elif method in _SAMPLERS:
        custom = _SAMPLERS[method]
    elif method not in ("uniform", "normal", "cluster_poisson"):
        raise ValueError(
            f"method {method!r} not supported (uniform, normal, "
            f"cluster_poisson, registered: {sorted(_SAMPLERS)}, or a "
            "callable); other pointpats samplers need registration")

    key = _col(row_key) if row_key is not None else F.lit(0)

    @pandas_udf("binary")
    def _f(s: pd.Series, k: pd.Series) -> pd.Series:
        from ..geom.kernels import BOUNDARY, INSIDE, bounds, points_in_geom
        from ..geom.ragged import (
            MULTIPOINT, POINT, TYPE_DIM, GeometryBatchBuilder,
        )
        from ..geom.unary import _geom_rings
        from ..geom.wkb import from_wkb, to_wkb

        b = from_wkb(s)
        bb = bounds(b)
        keys = k.to_numpy()
        bld = GeometryBatchBuilder()
        for g in range(len(b)):
            t = int(b.types[g])
            if t == 0:
                bld.add_missing()
                continue
            rng = np.random.default_rng(
                (int(seed) * 1_000_003 + int(keys[g])) & 0x7FFFFFFF)
            dim = TYPE_DIM[t]
            pts = []
            if dim == 2 and np.isfinite(bb[g, 0]):
                minx, miny, maxx, maxy = bb[g]
                cx, cy = (minx + maxx) / 2, (miny + maxy) / 2
                sx = max((maxx - minx) / 8, 1e-12)
                sy = max((maxy - miny) / 8, 1e-12)
                par = None
                if method == "cluster_poisson":
                    # parent points: uniform inside the polygon (rejection)
                    n_par = max(1, int(np.ceil(size / 10)))
                    px: list = []
                    py: list = []
                    tr = 0
                    while len(px) < n_par and tr < 200 * n_par + 1000:
                        m = max(n_par * 2, 64)
                        xs = rng.uniform(minx, maxx, m)
                        ys = rng.uniform(miny, maxy, m)
                        stp = points_in_geom(xs, ys, b, g)
                        for x, y in zip(xs[stp != 0], ys[stp != 0]):
                            if len(px) < n_par:
                                px.append(x)
                                py.append(y)
                        tr += m
                    par = (np.array(px or [cx]), np.array(py or [cy]))
                ctx = {"minx": minx, "miny": miny, "maxx": maxx,
                       "maxy": maxy, "cx": cx, "cy": cy, "sx": sx,
                       "sy": sy}
                tries = 0
                while len(pts) < size and tries < 200 * size + 1000:
                    m = max(size * 2, 64)
                    if custom is not None:
                        xs, ys = custom(rng, m, ctx)
                        xs = np.asarray(xs, dtype=np.float64)
                        ys = np.asarray(ys, dtype=np.float64)
                        m = len(xs)
                    elif method == "normal":
                        xs = rng.normal(cx, sx, m)
                        ys = rng.normal(cy, sy, m)
                    elif method == "cluster_poisson":
                        idx = rng.integers(0, len(par[0]), m)
                        xs = rng.normal(par[0][idx], sx / 2, m)
                        ys = rng.normal(par[1][idx], sy / 2, m)
                    else:
                        xs = rng.uniform(minx, maxx, m)
                        ys = rng.uniform(miny, maxy, m)
                    st_ = points_in_geom(xs, ys, b, g)
                    for x, y in zip(xs[st_ != 0], ys[st_ != 0]):
                        if len(pts) < size:
                            pts.append((x, y))
                    tries += m
            elif dim == 1 and method != "cluster_poisson" and custom is None:
                segs = []
                for _, r in _geom_rings(b, g):
                    for i in range(len(r) - 1):
                        segs.append((r[i], r[i + 1]))
                if segs:
                    lens = np.array([np.hypot(*(p1 - p0)) for p0, p1 in segs])
                    w = lens / lens.sum() if lens.sum() > 0 else None
                    pick = rng.choice(len(segs), size=size, p=w)
                    ts = rng.random(size)
                    for i, t_ in zip(pick, ts):
                        p0, p1 = segs[i]
                        pts.append(tuple(p0 + t_ * (p1 - p0)))
            elif method != "cluster_poisson" and custom is None:
                # pointpats-style methods: polygons only
                off = b.geom_coord_off
                c = b.coords[off[g]:off[g + 1]]
                if len(c):
                    pick = rng.choice(len(c), size=size)
                    pts = [tuple(c[i]) for i in pick]
            if not pts:
                bld.add(MULTIPOINT, [])
            else:
                bld.add(MULTIPOINT,
                        [(POINT, [np.array([p])]) for p in pts])
        return pd.Series(list(to_wkb(bld.finish())))

    return _f(_col(geom), key)


def st_delaunay_triangles(geom, only_edges: bool = False,
                          tolerance: float = 0.0) -> Column:
    """base.py:908 — Delaunay triangulation of each geometry's vertices
    (GeometryCollection of polygons, or MultiLineString of edges);
    ``tolerance`` snaps vertices within that distance together first."""

    @pandas_udf("binary")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom.ragged import (
            GEOMETRYCOLLECTION, LINESTRING, MULTILINESTRING, POLYGON,
            GeometryBatchBuilder,
        )
        from ..geom.triangulate import delaunay, delaunay_edges
        from ..geom.wkb import from_wkb, to_wkb

        b = from_wkb(s)
        bld = GeometryBatchBuilder()
        off = b.geom_coord_off
        for g in range(len(b)):
            if b.types[g] == 0:
                bld.add_missing()
                continue
            pts = b.coords[off[g]:off[g + 1]]
            if only_edges:
                edges, up = delaunay_edges(pts, tolerance) \
                    if len(pts) >= 3 else ([], pts)
                bld.add(MULTILINESTRING, [
                    (LINESTRING, [np.vstack([up[u], up[v]])])
                    for u, v in edges
                ])
            else:
                tris, up = delaunay(pts, tolerance) \
                    if len(pts) >= 3 else ([], pts)
                bld.add(GEOMETRYCOLLECTION, [
                    (POLYGON, [np.vstack([up[a], up[b_], up[c], up[a]])])
                    for a, b_, c in tris
                ])
        return pd.Series(list(to_wkb(bld.finish())))

    return _f(_col(geom))


def st_voronoi_polygons(geom, extend_to=None, only_edges: bool = False,
                        tolerance: float = 0.0) -> Column:
    """base.py:999 — Voronoi cells of each geometry's vertices, clipped to
    the geometry envelope (or ``extend_to`` bounds 4-tuple);
    ``tolerance`` snaps vertices within that distance together first."""

    @pandas_udf("binary")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom.kernels import bounds
        from ..geom.ragged import (
            GEOMETRYCOLLECTION, LINESTRING, MULTILINESTRING, POLYGON,
            GeometryBatchBuilder,
        )
        from ..geom.triangulate import voronoi
        from ..geom.wkb import from_wkb, to_wkb

        b = from_wkb(s)
        bb = bounds(b)
        bld = GeometryBatchBuilder()
        off = b.geom_coord_off
        for g in range(len(b)):
            if b.types[g] == 0:
                bld.add_missing()
                continue
            pts = b.coords[off[g]:off[g + 1]]
            if len(pts) == 0:
                bld.add(GEOMETRYCOLLECTION, [])
                continue
            if extend_to is not None:
                ext = tuple(float(v) for v in extend_to)
            else:
                # GEOS extends the envelope by ~ the diagonal
                w = bb[g, 2] - bb[g, 0] or 1.0
                h = bb[g, 3] - bb[g, 1] or 1.0
                ext = (bb[g, 0] - w / 2, bb[g, 1] - h / 2,
                       bb[g, 2] + w / 2, bb[g, 3] + h / 2)
            cells, _ = voronoi(pts, ext, tolerance)
            if only_edges:
                parts = []
                for c in cells:
                    if c is None:
                        continue
                    for i in range(len(c) - 1):
                        parts.append((LINESTRING, [c[i:i + 2]]))
                bld.add(MULTILINESTRING, parts)
            else:
                bld.add(GEOMETRYCOLLECTION, [
                    (POLYGON, [c]) for c in cells if c is not None
                ])
        return pd.Series(list(to_wkb(bld.finish())))

    return _f(_col(geom))


def st_concave_hull(geom, ratio: float = 0.0, allow_holes: bool = False) -> Column:
    """base.py:799 — chi-shape concave hull."""

    @pandas_udf("binary")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom.ragged import POLYGON, GeometryBatchBuilder
        from ..geom.triangulate import concave_hull
        from ..geom.wkb import from_wkb, to_wkb

        b = from_wkb(s)
        bld = GeometryBatchBuilder()
        off = b.geom_coord_off
        for g in range(len(b)):
            if b.types[g] == 0:
                bld.add_missing()
                continue
            pts = b.coords[off[g]:off[g + 1]]
            rings = concave_hull(pts, ratio, allow_holes) if len(pts) >= 3 else []
            if not rings:
                bld.add(POLYGON, [(POLYGON, [])])
            else:
                bld.add(POLYGON, [(POLYGON, rings)])
        return pd.Series(list(to_wkb(bld.finish())))

    return _f(_col(geom))


def st_polygonize(geom_list) -> Column:
    """polygonize (base.py:5763): array<binary> of noded linework -> one
    GeometryCollection WKB of the assembled polygons."""

    @pandas_udf("binary")
    def _f(arrs: pd.Series) -> pd.Series:
        from ..geom import wkb as B
        from ..geom.polygonize import batch_segments, polygonize_segments
        from ..geom.ragged import GEOMETRYCOLLECTION, POLYGON, GeometryBatchBuilder

        out = []
        for a in arrs:
            vals = [w for w in (list(a) if a is not None else []) if w is not None]
            if not vals:
                out.append(None)
                continue
            batch = B.from_wkb(vals)
            segs = []
            for g in range(len(batch)):
                segs.extend(batch_segments(batch, g))
            res = polygonize_segments(segs)
            bld = GeometryBatchBuilder()
            bld.add(GEOMETRYCOLLECTION,
                    [(POLYGON, f["rings"]) for f in res["faces"]])
            out.append(B.to_wkb(bld.finish())[0])
        return pd.Series(out)

    return _f(_col(geom_list))


def st_build_area(geom) -> Column:
    """build_area (base.py:5712): polygonize the geometry's own linework
    into a (Multi)Polygon per row."""

    @pandas_udf("binary")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom import wkb as B
        from ..geom.polygonize import batch_segments, polygonize_segments
        from ..geom.ragged import MULTIPOLYGON, POLYGON, GeometryBatchBuilder

        b = B.from_wkb(s)
        bld = GeometryBatchBuilder()
        for g in range(len(b)):
            if b.types[g] == 0:
                bld.add_missing()
                continue
            res = polygonize_segments(batch_segments(b, g))
            # build_area (GEOS): odd-nesting-depth faces are holes, not
            # polygons — keep even-depth faces with their holes attached
            polys = [f["rings"] for f in res["faces"] if f["depth"] % 2 == 0]
            if not polys:
                bld.add(POLYGON, [(POLYGON, [])])
            elif len(polys) == 1:
                bld.add(POLYGON, [(POLYGON, polys[0])])
            else:
                bld.add(MULTIPOLYGON, [(POLYGON, rr) for rr in polys])
        return pd.Series(list(B.to_wkb(bld.finish())))

    return _f(_col(geom))


def st_offset_curve(geom, distance: float, quad_segs: int = 8,
                    join_style: str = "round",
                    mitre_limit: float = 5.0) -> Column:
    """base.py:1265; ``join_style`` ('round'|'mitre'|'bevel') shapes
    convex turns, mitre spikes cropped at ``mitre_limit*distance``."""
    return _transform_udf(
        lambda t, b: t.offset_curve(b, distance, quad_segs,
                                    join_style=join_style,
                                    mitre_limit=mitre_limit)
    )(_col(geom))


def st_relate(a, b) -> Column:
    """DE-9IM matrix string (base.py:4924)."""

    @pandas_udf("string")
    def _f(sa: pd.Series, sb: pd.Series) -> pd.Series:
        from ..geom.relate import relate
        from ..geom.wkb import from_wkb

        return pd.Series(relate(from_wkb(sa), from_wkb(sb)))

    return _f(_col(a), _col(b))


def st_relate_pattern(a, b, pattern: str) -> Column:
    """base.py:5029 — DE-9IM pattern match ('*' any, 'T' non-F)."""

    @pandas_udf("boolean")
    def _f(sa: pd.Series, sb: pd.Series) -> pd.Series:
        from ..geom.relate import matches_pattern, relate
        from ..geom.wkb import from_wkb

        ms = relate(from_wkb(sa), from_wkb(sb))
        return pd.Series([matches_pattern(m, pattern) for m in ms])

    return _f(_col(a), _col(b))
