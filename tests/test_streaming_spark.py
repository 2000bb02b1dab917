"""Structured Streaming operators vs their batch equivalents.

Each test feeds the SAME rows through (a) a file-source stream with
Trigger.AvailableNow into a memory sink and (b) the batch plan, then
compares row sets — the streaming analogue of the DuckDB oracle gate.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import make_points_df, make_triangles_df


def _stream_rows(spark, batch_df, tmpdir, name, n_files=3):
    """Write batch_df as n_files parquet files and reopen as a stream."""
    src = os.path.join(str(tmpdir), f"src_{name}")
    batch_df.repartition(n_files).write.parquet(src)
    return spark.readStream.schema(batch_df.schema).parquet(src)


def _run_to_memory(stream_df, spark, name, tmpdir):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(str(tmpdir), f"ck_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _run_complete_to_memory(stream_df, spark, name, tmpdir):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(str(tmpdir), f"ck_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_sjoin_stream_matches_batch(spark, tmpdir):
    from geopandas_spark.streaming import sjoin_stream

    pts, _, _ = make_points_df(spark, 400)
    tris, _ = make_triangles_df(spark, 60)
    tris = tris.select(F.col("tid").alias("index_right"), "geometry")

    batch = sjoin_stream(pts.select("pid", "geometry"), tris,
                         predicate="intersects", resolution=5)
    expected = sorted(
        (r.pid, r.index_right)
        for r in batch.select("pid", "index_right").collect())
    assert len(expected) > 0

    stream = _stream_rows(spark, pts.select("pid", "geometry"),
                          tmpdir, "sj_pts")
    out = sjoin_stream(stream, tris, predicate="intersects", resolution=5)
    assert out.isStreaming
    got = _run_to_memory(out.select("pid", "index_right"),
                         spark, "sj_mem", tmpdir)
    assert sorted((r.pid, r.index_right) for r in got.collect()) == expected


def _row_key(row):
    # NaN != NaN: compare floats by repr so NaN rows still pair up
    return tuple("nan" if isinstance(v, float) and v != v else v
                 for v in row)


def test_sjoin_stream_carries_left_columns(spark, tmpdir):
    """Every stream-side column rides through the join unchanged (a
    string column, a long column holding nulls, a double column holding
    nulls and NaN), batch and stream, and equals the batch sjoin."""
    from geopandas_spark.operators.sjoin import sjoin
    from geopandas_spark.streaming import sjoin_stream

    pts, _, _ = make_points_df(spark, 300)
    tris, _ = make_triangles_df(spark, 40)
    left = pts.select(
        "pid", "geometry", "name",
        F.when(F.col("pid") % 3 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("pid") * 7).alias("opt"),
        F.when(F.col("pid") % 4 == 0, F.lit(None).cast("double"))
        .when(F.col("pid") % 4 == 1, F.lit(float("nan")))
        .otherwise(F.col("value")).alias("dv"))
    right = tris.select(F.col("tid").alias("index_right"), "geometry")
    cols = ["pid", "geometry", "name", "opt", "dv", "index_right"]

    ref = sjoin(left, tris.select("tid", "geometry"), left_id="pid",
                right_id="tid")
    expected = sorted(_row_key(r) for r in ref.select(*cols).collect())
    assert len(expected) > 0
    assert any(r[3] is None for r in expected)
    assert any(r[4] == "nan" for r in expected)

    batch = sjoin_stream(left, right, predicate="intersects", resolution=5)
    assert batch.columns == left.columns + ["index_right"]
    assert sorted(_row_key(r) for r in batch.select(*cols).collect()) \
        == expected

    stream = _stream_rows(spark, left, tmpdir, "sj_cols")
    out = sjoin_stream(stream, right, predicate="intersects", resolution=5)
    got = _run_to_memory(out, spark, "sj_cols_mem", tmpdir)
    assert sorted(_row_key(r) for r in got.select(*cols).collect()) \
        == expected


def test_sjoin_stream_polygon_left_dedups_pairs(spark, tmpdir):
    """A polygon covered by many cells still emits each pair once
    (reference-point rule, no dropDuplicates state)."""
    from geopandas_spark.streaming import sjoin_stream

    tris_l, _ = make_triangles_df(spark, 40, seed=3, scale=0.4)
    tris_r, _ = make_triangles_df(spark, 40, seed=9, scale=0.4)
    left = tris_l.select(F.col("tid").alias("lid"), "geometry")
    right = tris_r.select(F.col("tid").alias("index_right"), "geometry")

    batch_pairs = sjoin_stream(left, right, predicate="intersects",
                               resolution=6)
    rows = [(r.lid, r.index_right)
            for r in batch_pairs.select("lid", "index_right").collect()]
    assert len(rows) == len(set(rows)), "duplicate pairs leaked"

    # cross-check against the full batch sjoin operator
    from geopandas_spark.operators.sjoin import sjoin

    ref = sjoin(left.withColumnRenamed("lid", "l"), tris_r, how="inner",
                predicate="intersects", left_id="l", right_id="tid")
    expected = sorted((r.l, r.index_right)
                      for r in ref.select("l", "index_right").collect())
    assert sorted(rows) == expected


def test_sjoin_stream_rejects_dwithin(spark):
    from geopandas_spark.streaming import sjoin_stream

    pts, _, _ = make_points_df(spark, 4)
    with pytest.raises(ValueError, match="dwithin"):
        sjoin_stream(pts, pts, predicate="dwithin")


def test_tile_counts_stream_matches_batch(spark, tmpdir):
    from geopandas_spark.geom.ragged import points_batch
    from geopandas_spark.geom.wkb import to_wkb
    from geopandas_spark.streaming import tile_counts_stream

    r = np.random.default_rng(5)
    n = 500
    x, y = r.random(n), r.random(n)
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        r.integers(0, 6 * 3600, n), unit="s")
    pdf = pd.DataFrame({
        "eid": np.arange(n), "ts": ts,
        "geometry": list(to_wkb(points_batch(x, y))),
    })
    batch_df = spark.createDataFrame(pdf)

    batch = tile_counts_stream(batch_df, zoom=3, window_duration="1 hour")
    expected = sorted((r.win_start, r.tile, r.n) for r in batch.collect())

    stream = _stream_rows(spark, batch_df, tmpdir, "tc_pts")
    out = tile_counts_stream(stream, zoom=3, window_duration="1 hour",
                             watermark="10 minutes")
    got = _run_complete_to_memory(out, spark, "tc_mem", tmpdir)
    assert sorted((r.win_start, r.tile, r.n) for r in got.collect()) == expected


def test_dedup_stream_matches_batch(spark, tmpdir):
    from geopandas_spark.streaming import dedup_stream

    rows = []
    for i in range(300):
        # 100 distinct texts, 3 copies each, whitespace/case variants
        base = f"doc {i % 100} body"
        text = (base.upper() if i % 3 == 1
                else base.replace(" ", "  ") if i % 3 == 2 else base)
        rows.append((i, text, pd.Timestamp("2024-01-01")
                     + pd.Timedelta(seconds=i)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
    batch_df = spark.createDataFrame(pdf)

    assert dedup_stream(batch_df).count() == 100

    stream = _stream_rows(spark, batch_df, tmpdir, "dd_docs", n_files=1)
    out = dedup_stream(stream, watermark="1 hour")
    got = _run_to_memory(out, spark, "dd_mem", tmpdir)
    # one representative per normalized text
    assert got.count() == 100
    norm = got.select(
        F.lower(F.regexp_replace("text", r"\s+", " ")).alias("t")).distinct()
    assert norm.count() == 100


def test_sjoin_nearest_stream_matches_batch(spark, tmpdir):
    """Stream-static nearest join == batch sjoin_nearest row set."""
    from geopandas_spark.operators.nearest import sjoin_nearest
    from geopandas_spark.streaming import sjoin_nearest_stream

    pts, _, _ = make_points_df(spark, 300)
    centers, _, _ = make_points_df(spark, 40, seed=9)
    right = centers.select(F.col("pid").alias("tid"), "geometry")
    left = pts.select("pid", "geometry")

    ref = sjoin_nearest(left, right, distance_col="dist",
                        left_id="pid", right_id="tid")
    expected = sorted((r.pid, r.index_right, round(r.dist, 12))
                      for r in ref.select("pid", "index_right",
                                          "dist").collect())

    # batch path of the streaming operator
    batch = sjoin_nearest_stream(left, right, resolution=5,
                                 left_id="pid", right_id="tid")
    got_b = sorted((r.pid, r.tid, round(r.dist, 12))
                   for r in batch.collect())
    assert got_b == expected

    # streaming path
    stream = _stream_rows(spark, left, tmpdir, "nn_pts")
    out = sjoin_nearest_stream(stream, right, resolution=5,
                               left_id="pid", right_id="tid")
    assert out.isStreaming
    got = _run_to_memory(out, spark, "nn_mem", tmpdir)
    assert sorted((r.pid, r.tid, round(r.dist, 12))
                  for r in got.collect()) == expected


def _lines_df(spark, n, seed=5, length=0.3):
    """Long skinny lines — non-point left geometries whose far end is many
    cells from their bbox-center cell (the ADVICE r2 certify bug shape)."""
    from geopandas_spark.geom import wkt as W
    from geopandas_spark.geom.wkb import to_wkb

    r = np.random.default_rng(seed)
    x0 = r.random(n) * (1 - length)
    y0 = r.random(n) * (1 - length)
    ang = r.random(n) * 2 * np.pi
    x1 = np.clip(x0 + np.cos(ang) * length, 0, 1)
    y1 = np.clip(y0 + np.sin(ang) * length, 0, 1)
    wkts = ["LINESTRING (%.12f %.12f, %.12f %.12f)" % t
            for t in zip(x0, y0, x1, y1)]
    wkb = to_wkb(W.from_wkt(wkts))
    return spark.createDataFrame(
        pd.DataFrame({"lid": np.arange(n), "geometry": list(wkb)}))


def test_sjoin_nearest_stream_line_left(spark):
    """Non-point LEFT geometries: the certify disk must widen by the
    left bbox half-extent (ADVICE r2) — a neighbor near the line's far
    end was silently missed by the old `best <= m*cell_min` bound."""
    from geopandas_spark.operators.nearest import sjoin_nearest
    from geopandas_spark.streaming import sjoin_nearest_stream

    lines = _lines_df(spark, 80, seed=5, length=0.3)
    centers, _, _ = make_points_df(spark, 50, seed=11)
    right = centers.select(F.col("pid").alias("tid"), "geometry")

    ref = sjoin_nearest(lines, right, distance_col="dist",
                        left_id="lid", right_id="tid")
    expected = sorted((r.lid, r.index_right, round(r.dist, 12))
                      for r in ref.select("lid", "index_right",
                                          "dist").collect())
    got = sorted((r.lid, r.tid, round(r.dist, 12))
                 for r in sjoin_nearest_stream(
                     lines, right, resolution=6,
                     left_id="lid", right_id="tid").collect())
    assert got == expected


def test_sjoin_nearest_stream_areal_right(spark):
    """Polygon (areal) right side with line left rows: the stream
    operator equals the batch sjoin_nearest, ties and distances."""
    from geopandas_spark.operators.nearest import sjoin_nearest
    from geopandas_spark.streaming import sjoin_nearest_stream

    lines = _lines_df(spark, 60, seed=8, length=0.2)
    tris, _ = make_triangles_df(spark, 30, seed=4, scale=0.1)
    right = tris.select("tid", "geometry")

    ref = sjoin_nearest(lines, right, distance_col="dist",
                        left_id="lid", right_id="tid")
    expected = sorted((r.lid, r.index_right, round(r.dist, 12))
                      for r in ref.select("lid", "index_right",
                                          "dist").collect())
    assert any(d == 0.0 for _, _, d in expected)  # some lines hit a polygon
    got = sorted((r.lid, r.tid, round(r.dist, 12))
                 for r in sjoin_nearest_stream(
                     lines, right, resolution=5,
                     left_id="lid", right_id="tid").collect())
    assert got == expected


def test_sjoin_nearest_stream_coarse_right(spark):
    """A RIGHT geometry whose cover coarsens (bbox needs > max_cells
    cells) must still be probe-visible (ADVICE r2: multi-res directory
    lookup). The giant triangle is the true nearest for far-away rows."""
    from geopandas_spark.geom import wkt as W
    from geopandas_spark.geom.wkb import to_wkb
    from geopandas_spark.operators.nearest import sjoin_nearest
    from geopandas_spark.streaming import sjoin_nearest_stream

    pts, _, _ = make_points_df(spark, 200)
    giant = "POLYGON ((0.02 0.02, 0.98 0.02, 0.5 0.9, 0.02 0.02))"
    small = "POLYGON ((0.01 0.95, 0.03 0.95, 0.02 0.99, 0.01 0.95))"
    right = spark.createDataFrame(pd.DataFrame({
        "tid": [0, 1],
        "geometry": list(to_wkb(W.from_wkt([giant, small])))}))

    ref = sjoin_nearest(pts.select("pid", "geometry"), right,
                        distance_col="dist", left_id="pid", right_id="tid")
    expected = sorted((r.pid, r.index_right, round(r.dist, 12))
                      for r in ref.select("pid", "index_right",
                                          "dist").collect())
    # max_cells=8 at res 6 forces the giant polygon's cover to coarsen
    got = sorted((r.pid, r.tid, round(r.dist, 12))
                 for r in sjoin_nearest_stream(
                     pts.select("pid", "geometry"), right, resolution=6,
                     left_id="pid", right_id="tid", max_cells=8).collect())
    assert got == expected


def test_sjoin_stream_coarse_covers_exact(spark):
    """Rows whose cover exceeds max_cells still join exactly: the
    static side's giant rows are always-candidates of the broadcast
    index (ADVICE r2: coarsened rows were silently unjoinable)."""
    from geopandas_spark.geom import wkt as W
    from geopandas_spark.geom.wkb import to_wkb
    from geopandas_spark.operators.sjoin import sjoin
    from geopandas_spark.streaming import sjoin_stream

    tris, _ = make_triangles_df(spark, 50, seed=3, scale=0.25)
    giant = "POLYGON ((0.05 0.05, 0.95 0.05, 0.5 0.92, 0.05 0.05))"
    extra = spark.createDataFrame(pd.DataFrame({
        "tid": [1000], "geometry": list(to_wkb(W.from_wkt([giant]))),
        "value": [0.0], "name": ["giant"], "grp": ["gx"]}))
    left = tris.unionByName(extra).select(F.col("tid").alias("lid"),
                                          "geometry")
    right = tris.unionByName(extra).select(F.col("tid").alias("index_right"),
                                           "geometry")

    ref = sjoin(left.withColumnRenamed("lid", "l"),
                right.withColumnRenamed("index_right", "tid"), how="inner",
                predicate="intersects", left_id="l", right_id="tid")
    expected = sorted((r.l, r.index_right)
                      for r in ref.select("l", "index_right").collect())

    # max_cells=8 at res 6: the giant polygon coarsens on BOTH sides
    out = sjoin_stream(left, right, predicate="intersects", resolution=6,
                       max_cells=8)
    rows = [(r.lid, r.index_right)
            for r in out.select("lid", "index_right").collect()]
    assert len(rows) == len(set(rows)), "duplicate pairs leaked"
    assert sorted(rows) == expected


def test_spans_pipeline_stream_matches_batch(spark, tmpdir):
    """The interleaved-documents pipeline (north-rule input shape) is
    stateless map-only, so it must run unchanged on a readStream source:
    WKT span extraction + zoom-4 tiling + the span fingerprint, stream
    (file source, AvailableNow, append) == batch, row for row."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E
    from geopandas_spark.operators.tiles import to_tiles
    from geopandas_spark.sources.documents import (
        span_serial_fingerprint, with_geometry)

    # orderBy before limit: a bare LIMIT makes no cross-execution
    # determinism promise, and the batch path and the stream-source
    # write evaluate this plan independently
    docs = (E._interleaved_docs(spark, "/root/testdata/sf0.001")
            .orderBy("doc_id").limit(400))

    def pipeline(d):
        t = to_tiles(with_geometry(d), zoom=4,
                     domain=(0.0, 0.0, 997.0, 983.0), clip=False)
        return t.select("doc_id", "tile_id",
                        span_serial_fingerprint("spans").alias("span_fp"))

    batch = pipeline(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    stream_src = _stream_rows(spark, docs, tmpdir, "spans")
    got = _run_to_memory(pipeline(stream_src), spark, "spans_out", tmpdir)
    out = got.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(out, batch)


def test_pii_scrub_stream_matches_batch(spark, tmpdir):
    """pii_scrub is a stateless pure-Catalyst projection, so the same
    rows through a file-source stream produce the identical scrubbed
    rows (the compliance pass works in a streaming ingest pipeline)."""
    from geopandas_spark.operators.textstats import pii_scrub

    pdf = pd.DataFrame({
        "doc_id": list(range(8)),
        "text": [f"doc {i} mail w{i}@ex.com call 555-123-456{i} "
                 f"ip 10.0.{i}.1 ssn 123-45-678{i}" for i in range(8)],
    })
    batch = spark.createDataFrame(pdf)
    want = {tuple(r) for r in pii_scrub(batch)
            .select("doc_id", "n_email", "n_phone", "n_ssn", "n_ipv4",
                    "text_scrubbed").collect()}
    stream = _stream_rows(spark, batch, tmpdir, "pii")
    got_df = _run_to_memory(
        pii_scrub(stream).select("doc_id", "n_email", "n_phone", "n_ssn",
                                 "n_ipv4", "text_scrubbed"),
        spark, "pii_out", tmpdir)
    got = {tuple(r) for r in got_df.collect()}
    assert got == want and len(got) == 8
