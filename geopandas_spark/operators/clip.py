"""clip / cx — filter + intersect rows by a mask (reference tools/clip.py:16-134,
``cx`` indexer base.py:5513-5548).

Semantics: rows whose geometry intersects the mask are kept with geometry
replaced by ``intersection(geom, mask)``; empties dropped; a 4-tuple mask
takes the fast ``clip_by_rect`` path (tools/clip.py:40-43);
``keep_geom_type`` filters results back to the input's dimension. ``cx``
keeps the geometry untouched (pure bbox-intersects row filter).

Physical plan: the mask is a driver-side constant (the reference dissolves
mask first, clip.py:30) -> broadcast into the UDF closure; the whole clip
is one partition-local projection + filter — no shuffle at any scale.

Pushdown (round-2): when cheap bounds columns exist — the GeoParquet
covering ``bbox`` struct written by sources/geoparquet.py, a point
table's (x, y) columns, or explicit (minx, miny, maxx, maxy) columns —
the bbox window predicate is emitted as PURE SQL *before* any pandas
UDF, so Catalyst pushes it into the parquet scan (``PushedFilters`` /
row-group pruning) and the WKB decode runs only on window survivors.
A ``bbox`` struct column is auto-detected; pass ``bounds=`` to name
other columns. At 100x scale this is the difference between a pruned
scan and decoding every geometry to keep 2% of rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _bounds_predicate(df: DataFrame, bounds, rect) -> Column | None:
    """Pure-SQL bbox-intersects predicate from cheap columns, or None.

    ``bounds``: None (auto-detect a ``bbox`` struct column), a struct
    column name with minx/miny/maxx/maxy fields, an (x, y) column pair
    (point tables), or a (minx, miny, maxx, maxy) column 4-tuple.
    """
    minx, miny, maxx, maxy = (float(v) for v in rect)
    if bounds is None:
        cols = dict(df.dtypes)
        if "bbox" in cols and cols["bbox"].startswith("struct") \
                and "minx" in cols["bbox"]:
            bounds = "bbox"
        else:
            return None
    if isinstance(bounds, str):
        b = bounds
        return ((F.col(f"{b}.minx") <= maxx) & (F.col(f"{b}.maxx") >= minx)
                & (F.col(f"{b}.miny") <= maxy) & (F.col(f"{b}.maxy") >= miny))
    if len(bounds) == 2:
        x, y = bounds
        return (F.col(x).between(minx, maxx) & F.col(y).between(miny, maxy))
    bx0, by0, bx1, by1 = bounds
    return ((F.col(bx0) <= maxx) & (F.col(bx1) >= minx)
            & (F.col(by0) <= maxy) & (F.col(by1) >= miny))


def _mask_rect(mask_wkb: bytes):
    """Driver-side bbox of a WKB mask (tiny decode, once)."""
    from ..geom import wkb as B
    from ..geom.kernels import bounds as _kb

    bb = _kb(B.from_wkb(pd.Series([mask_wkb])))[0]
    if np.isnan(bb).any():
        return None
    return tuple(float(v) for v in bb)


def clip(
    df: DataFrame,
    mask,
    geom: str = "geometry",
    keep_geom_type: bool = False,
    bounds=None,
) -> DataFrame:
    """mask: (minx, miny, maxx, maxy) tuple OR a WKB polygon (bytes).

    ``bounds`` names cheap bbox columns for scan pushdown — see
    ``_bounds_predicate``. The exact UDF still runs on survivors (the
    SQL predicate is the coarse bbox test, identical to the reference's
    bbox pre-filter before the exact intersection, tools/clip.py:36-43).
    """
    from ..conf import widen

    df = widen(df)
    if isinstance(mask, (tuple, list)) and len(mask) == 4:
        rect = tuple(float(v) for v in mask)

        def cut(b):
            from ..geom.transforms import clip_by_rect

            return clip_by_rect(b, *rect)
    else:
        mask_wkb = bytes(mask)
        rect = _mask_rect(mask_wkb)

        def cut(b):
            from ..geom import wkb as B
            from ..geom.clipping import pairwise_intersection

            return pairwise_intersection(b, B.from_wkb([mask_wkb] * len(b)))
    if rect is not None:
        pre = _bounds_predicate(df, bounds, rect)
        if pre is not None:
            df = df.filter(pre)
    # explode drops the rows the kernel returns no geometry for. A
    # ``filter(isNotNull)`` on the UDF's output would be pushed below its
    # projection and run the kernel twice
    kept = F.explode(_clip_udf(cut, keep_geom_type)(F.col(geom))).alias(geom)
    return df.select(*[kept if c == geom else F.col(c) for c in df.columns])


def _clip_udf(cut, keep_geom_type: bool):
    """The clip kernel ``cut`` (GeometryBatch -> GeometryBatch) as one
    pandas UDF returning each row's result as a 0- or 1-element array:
    empty for the rows clip drops, i.e. missing and empty results and,
    with ``keep_geom_type``, GeometryCollections (the rect/convex clip
    of a polygon is polygonal and of a line lineal, so type filtering
    reduces to dropping mixed results; mirrors the keep_geom_type
    warnings in test_overlay.py:587-706). One Python node per clip
    call."""

    @pandas_udf("array<binary>")
    def _f(s: pd.Series) -> pd.Series:
        from ..geom.ragged import GEOMETRYCOLLECTION
        from ..geom.wkb import from_wkb, to_wkb

        res = cut(from_wkb(s))
        keep = res.n_coords_per_geom() > 0
        if keep_geom_type:
            keep &= res.types != GEOMETRYCOLLECTION
        w = iter(to_wkb(res.take(np.nonzero(keep)[0])))
        return pd.Series([[next(w)] if k else [] for k in keep])

    return _f


def cx_filter(df: DataFrame, rect, geom: str = "geometry",
              bounds=None) -> DataFrame:
    """``cx`` indexer semantics (base.py:5513-5548): keep rows whose bbox
    intersects the window; geometry is NOT modified.

    With exact bounds columns (covering bbox struct / point x,y / bbox
    column 4-tuple) this is a zero-UDF pure-SQL filter that Catalyst
    pushes into the scan; otherwise it falls back to one st_bounds UDF.
    Open window sides pass None/±inf.
    """
    minx, miny, maxx, maxy = [
        (-np.inf if v is None else float(v)) if i < 2
        else (np.inf if v is None else float(v))
        for i, v in enumerate(rect)
    ]
    rect = (minx, miny, maxx, maxy)
    pre = _bounds_predicate(df, bounds, rect)
    if pre is not None:
        # the named bounds columns are exact bboxes -> no refine needed
        return df.filter(pre)
    from ..functions.st import st_bounds

    bb = st_bounds(geom)
    return df.filter(
        (bb.getField("minx") <= maxx) & (bb.getField("maxx") >= minx)
        & (bb.getField("miny") <= maxy) & (bb.getField("maxy") >= miny)
    )
