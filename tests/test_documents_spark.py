"""Interleaved-documents layer: determinism, span-sequence invariant
(the north-rule per-row contract), extraction, tiling, pipeline resume."""

import shutil

import pytest
from pyspark.sql import functions as F

from geopandas_spark.operators.sjoin import sjoin
from geopandas_spark.operators.tiles import rasterize, to_tiles, vectorize_mask
from geopandas_spark.plans.pipeline import Pipeline
from geopandas_spark.sources.documents import (
    assert_spans_preserved, explode_geometries, span_fingerprint,
    synthesize_documents, with_geometry)


@pytest.fixture(scope="module")
def docs(spark):
    d = synthesize_documents(spark, 400, seed=42).persist()
    d.count()
    return d


def test_schema_matches_input_hint(docs):
    assert docs.schema.simpleString() == (
        "struct<doc_id:string,spans:array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>>"
    )


def test_deterministic(docs, spark):
    again = synthesize_documents(spark, 400, seed=42)
    assert assert_spans_preserved(docs, again) == 0
    other_seed = synthesize_documents(spark, 400, seed=43)
    assert assert_spans_preserved(docs, other_seed) > 0


def test_offsets_monotonic(docs):
    bad = docs.filter(
        F.exists(
            F.zip_with(
                F.col("spans"), F.slice(F.col("spans"), 2, 100000),
                lambda a, b: a["offset"] >= b["offset"],
            ),
            lambda x: x,
        )
    ).count()
    assert bad == 0


def test_span_invariant_through_pipeline(docs, spark):
    """Derived columns + a spatial join must leave spans untouched."""
    g = with_geometry(docs).filter(F.col("geometry").isNotNull())
    # spatial self-pipeline: join docs to a coarse grid of tiles
    out = g.withColumn("extra", F.lit("x"))
    assert assert_spans_preserved(docs, out) == 0
    # an sjoin output carrying spans still preserves them
    import pandas as pd
    from geopandas_spark.geom import wkb as B
    from geopandas_spark.geom import wkt as W

    boxes = spark.createDataFrame(pd.DataFrame({
        "bid": [0, 1, 2, 3],
        "geometry": list(B.to_wkb(W.from_wkt([
            "POLYGON ((0 0, 0.5 0, 0.5 0.5, 0 0.5, 0 0))",
            "POLYGON ((0.5 0, 1 0, 1 0.5, 0.5 0.5, 0.5 0))",
            "POLYGON ((0 0.5, 0.5 0.5, 0.5 1, 0 1, 0 0.5))",
            "POLYGON ((0.5 0.5, 1 0.5, 1 1, 0.5 1, 0.5 0.5))"])))}))
    joined = sjoin(g, boxes, how="inner", predicate="intersects",
                   right_id="bid")
    assert assert_spans_preserved(docs, joined) == 0


def test_extraction(docs):
    g = with_geometry(docs)
    n_geom = g.filter(F.col("geometry").isNotNull()).count()
    assert 0.5 * 400 < n_geom < 0.72 * 400  # ~60% carry geometry
    e = explode_geometries(docs)
    assert e.count() == n_geom  # synthesizer puts at most one geom span/doc


def test_tiles_roundtrip(docs, spark):
    g = with_geometry(docs).filter(F.col("geometry").isNotNull()).limit(30)
    t = to_tiles(g, zoom=3)
    assert t.filter(F.col("tile_geom").isNull()).count() == 0
    # every tile assignment's cell must contain the clipped geometry bbox
    from geopandas_spark.functions.st import st_bounds

    import numpy as np
    from geopandas_spark.index import cells as C

    rows = t.withColumn("cb", st_bounds("tile_geom")).select(
        "tile_id", "cb.minx", "cb.miny", "cb.maxx", "cb.maxy").collect()
    ids = np.array([r["tile_id"] for r in rows], dtype=np.int64)
    tb = C.cell_bounds(ids)
    eps = 1e-12
    for k, r in enumerate(rows):
        if r["minx"] is None:
            continue
        assert r["minx"] >= tb[k, 0] - eps and r["maxx"] <= tb[k, 2] + eps
        assert r["miny"] >= tb[k, 1] - eps and r["maxy"] <= tb[k, 3] + eps


def test_spans_pipeline_gate_invariant(spark):
    """The driver-gate spans_pipeline query (the SQL-oracle-able twin of
    the synthesizer shape) must keep one output row per doc and carry a
    span fingerprint identical to one computed on the INPUT table —
    i.e. the spans column rides through extraction + tiling untouched."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    docs = E._interleaved_docs(spark, sf)
    out = E.q_spans_pipeline(spark, sf)
    assert out.count() == docs.count()  # integer coords: exactly 1 tile/doc
    ser = F.md5(F.concat_ws("|", F.transform("spans", lambda s: F.concat_ws(
        "#", s["kind"], F.coalesce(s["text"], F.lit("")),
        F.coalesce(s["media_ref"], F.lit("")), s["offset"].cast("string")))))
    pre = docs.select("doc_id", ser.alias("fp_in"))
    n_bad = (out.join(pre, "doc_id")
             .filter(F.col("span_fp") != F.col("fp_in")).count())
    assert n_bad == 0


def test_spans_pipeline_plan_is_map_only(spark):
    """The interleaved-docs pipeline (extract + tile + fingerprint) must
    not shuffle by key: the only allowed Exchange is conf.widen's
    round-robin parallelization of a one-file local input, which is a
    no-op at scale (widen skips inputs that already have enough
    partitions). A Hash/RangePartitioning Exchange here would mean the
    pipeline stopped being embarrassingly parallel."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    df = E.q_spans_pipeline(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashPartitioning" not in plan
    assert "RangePartitioning" not in plan


def test_raster_vector_bridge(docs, spark):
    g = with_geometry(docs).filter(F.col("geometry").isNotNull()).limit(10)
    r = rasterize(g, zoom=2, pixels=8)
    v = vectorize_mask(r, zoom=2, pixels=8)
    assert v.filter(F.col("geometry").isNotNull()).count() == r.count()


def test_pipeline_resume(docs, spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("pipe"))
    pipe = Pipeline(spark, wd, "t")
    pipe.stage("docs", lambda sp, _: synthesize_documents(sp, 200, 42),
               params={"n": 200})
    out1 = pipe.stage("geoms", lambda sp, ins: with_geometry(ins["docs"]),
                      inputs=["docs"])
    n1 = out1.count()
    # resume: fresh pipeline over same workdir skips both stages
    pipe2 = Pipeline(spark, wd, "t")
    import os
    mtime_before = os.path.getmtime(f"{wd}/geoms/meta.json")
    pipe2.stage("docs", lambda sp, _: synthesize_documents(sp, 200, 42),
                params={"n": 200})
    out2 = pipe2.stage("geoms", lambda sp, ins: with_geometry(ins["docs"]),
                       inputs=["docs"])
    assert os.path.getmtime(f"{wd}/geoms/meta.json") == mtime_before  # skipped
    assert out2.count() == n1
    # param change invalidates downstream
    pipe3 = Pipeline(spark, wd, "t")
    pipe3.stage("docs", lambda sp, _: synthesize_documents(sp, 300, 42),
                params={"n": 300})
    out3 = pipe3.stage("geoms", lambda sp, ins: with_geometry(ins["docs"]),
                       inputs=["docs"])
    assert out3.count() != n1
    # lineage recorded for every stage run
    lin = pipe3.lineage()
    assert lin.filter(F.col("stage") == "geoms").count() >= 2


def test_pipeline_meta_invalidation_and_partition_by(spark, tmp_path_factory):
    """Round-4 review fixes: (a) changing partition_by re-runs the stage
    (layout is part of the fingerprint); (b) a stale meta.json from a
    different-params run never pairs with newer data."""
    import json
    import os

    wd = str(tmp_path_factory.mktemp("pipe2"))
    p = Pipeline(spark, wd, name="t2")

    def gen(spark_, _ins, val=1):
        return spark_.range(10).withColumn("k", F.col("id") % 2).withColumn(
            "v", F.lit(val))

    out1 = p.stage("s", lambda s, i: gen(s, i, 1), params={"val": 1})
    assert out1.count() == 10
    meta1 = json.load(open(os.path.join(wd, "s", "meta.json")))
    # same params+layout -> skip (fingerprint stable)
    p2 = Pipeline(spark, wd, name="t2")
    p2.stage("s", lambda s, i: gen(s, i, 1), params={"val": 1})
    assert json.load(open(os.path.join(wd, "s", "meta.json")))[
        "fingerprint"] == meta1["fingerprint"]
    # same params, NEW partition_by -> must re-run and partition
    p3 = Pipeline(spark, wd, name="t2")
    p3.stage("s", lambda s, i: gen(s, i, 1), params={"val": 1},
             partition_by=["k"])
    meta3 = json.load(open(os.path.join(wd, "s", "meta.json")))
    assert meta3["fingerprint"] != meta1["fingerprint"]
    assert any(d.startswith("k=") for d in
               os.listdir(os.path.join(wd, "s", "data")))
    assert meta3["rows"] == 10  # row total from lineage, not a rescan


def _stage_frames():
    return {
        "multi_file": (lambda sp, _i: sp.range(0, 700, numPartitions=7), None),
        "partition_by": (lambda sp, _i: sp.range(0, 90, numPartitions=3)
                         .withColumn("k", F.col("id") % 3), ["k"]),
        "empty": (lambda sp, _i: sp.range(0, 40, numPartitions=2)
                  .filter(F.col("id") < 0), None),
    }


@pytest.mark.parametrize("case", ["multi_file", "partition_by", "empty",
                                  "special_chars"])
def test_pipeline_lineage_matches_input_file_counts(spark, tmp_path, case):
    """Differential: a stage's lineage rows are the (file, count) rows a
    ``groupBy(input_file_name()).count()`` over its output gives, also
    when the workdir path needs URI escaping."""
    import json
    import os

    wd = str(tmp_path / ("a b%c+d" if case == "special_chars" else "wd"))
    fn, part = _stage_frames()["multi_file" if case == "special_chars" else case]
    pipe = Pipeline(spark, wd, "diff")
    pipe.stage("s", fn, partition_by=part)
    data_dir = os.path.join(wd, "s", "data")
    ref = sorted(tuple(r) for r in spark.read.parquet(data_dir)
                 .groupBy(F.input_file_name().alias("file")).count().collect())
    got = sorted(tuple(r) for r in pipe.lineage().filter(F.col("stage") == "s")
                 .select("file", "count").collect())
    assert got == ref
    if case == "empty":
        assert got == []
    else:
        assert len(got) >= 3
    meta = json.load(open(os.path.join(wd, "s", "meta.json")))
    assert meta["rows"] == sum(c for _f, c in ref)


def test_pipeline_lineage_schema_and_legacy_files(spark, tmp_path):
    """``lineage()`` keeps its columns and types, and a ``_lineage``
    directory that already holds a Spark-written file (a workdir from
    before lineage was written by the driver) reads back with the rows of
    both files."""
    import datetime
    import os

    wd = str(tmp_path / "wd")
    legacy_ts = datetime.datetime(2026, 1, 2, 3, 4, 5)
    spark.createDataFrame(
        [("file:/old/part-00000.parquet", 5, "old", "mix", "fp0", 0.5, legacy_ts)],
        "file string, count bigint, stage string, pipeline string, "
        "fingerprint string, wall_sec double, ts timestamp",
    ).write.mode("append").parquet(os.path.join(wd, "_lineage"))
    pipe = Pipeline(spark, wd, "mix")
    before = datetime.datetime.now()
    pipe.stage("new", _stage_frames()["multi_file"][0])
    lin = pipe.lineage()
    assert [(f.name, f.dataType.simpleString()) for f in lin.schema] == [
        ("file", "string"), ("count", "bigint"), ("stage", "string"),
        ("pipeline", "string"), ("fingerprint", "string"),
        ("wall_sec", "double"), ("ts", "timestamp")]
    rows = lin.collect()
    old = [r for r in rows if r["stage"] == "old"]
    new = [r for r in rows if r["stage"] == "new"]
    assert [(r["count"], r["ts"]) for r in old] == [(5, legacy_ts)]
    assert len(new) == 7 and sum(r["count"] for r in new) == 700
    assert all(r["pipeline"] == "mix" and r["wall_sec"] > 0 for r in new)
    assert all(abs(r["ts"] - before) < datetime.timedelta(minutes=10)
               for r in new)
    assert len({r["fingerprint"] for r in new}) == 1


def test_pipeline_stage_job_budget(spark, tmp_path):
    """A stage run starts no Spark job beyond its own write: the returned
    frame is read with the schema Spark wrote into the output's footers.
    A resume reads with the schema kept in meta.json and starts none.
    Both return the schema the inferring read gives (names, types, order,
    nullability, partition columns included), also for an empty output
    and a workdir path that needs URI escaping; a stage reads its input
    stages the same way. A meta.json without a schema falls back to
    inference."""
    import json
    import os
    import uuid

    sc = spark.sparkContext

    def jobs(call):
        group = f"pipe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            call()
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    wd = str(tmp_path / "a b%c+d")
    frames = _stage_frames()
    cases = ("multi_file", "partition_by", "empty")

    def fields(df):
        return [(f.name, f.dataType, f.nullable) for f in df.schema]

    def check(case, df):
        inferred = spark.read.parquet(os.path.join(wd, case, "data"))
        assert fields(df) == fields(inferred), case
        assert sorted(df.collect()) == sorted(inferred.collect()), case

    ran = {}
    for case in cases:
        fn, part = frames[case]
        writer = fn(spark, {}).write
        if part:
            writer = writer.partitionBy(*part)
        write_jobs = jobs(lambda: writer.parquet(str(tmp_path / case)))

        def run():
            ran[case] = Pipeline(spark, wd, "jobs").stage(
                case, fn, partition_by=part)

        stage_jobs = jobs(run)
        assert stage_jobs == write_jobs, (case, write_jobs, stage_jobs)
        check(case, ran[case])

    resumed = {}

    def resume():
        p = Pipeline(spark, wd, "jobs")
        for case in cases:
            fn, part = frames[case]
            resumed[case] = p.stage(case, fn, partition_by=part)

    assert jobs(resume) == 0

    for case, df in resumed.items():
        check(case, df)
    assert [f.name for f in resumed["partition_by"].schema] == ["id", "k"]
    assert resumed["empty"].count() == 0

    # a stage reading a stored stage as its input adds no schema job
    src = resumed["multi_file"]
    copy_jobs = jobs(lambda: spark.read.schema(src.schema).parquet(
        os.path.join(wd, "multi_file", "data")).write.parquet(
            str(tmp_path / "copy")))

    def child():
        p = Pipeline(spark, wd, "jobs")
        p.stage("multi_file", frames["multi_file"][0])
        p.stage("child", lambda _sp, i: i["multi_file"], inputs=["multi_file"])

    assert jobs(child) == copy_jobs

    meta_path = os.path.join(wd, "partition_by", "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["schema"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    assert jobs(resume) == 1
