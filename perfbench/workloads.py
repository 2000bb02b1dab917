"""The workloads: seeded inputs, the fixed call sequence of one
iteration, and the correctness check of every call's output.

A *call* is one public operator call of ``geopandas_spark`` timed from the
call to its last output row. Its body receives ``mark(phase)``: the body
calls ``mark("execute")`` when the operator has returned its DataFrame, so
the time before the mark is the eager driver work (construct) and the
time after it the action (execute). Pipeline stages also mark
``"construct"`` on entering the stage function.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd
import pyarrow.parquet as pq

from . import inputs as I
from . import oracle as O


def _wkb(df) -> list:
    return df.select("geometry").toArrow()["geometry"].to_pylist()


@dataclass
class Call:
    op: str
    body: Callable[[Callable[[str], None]], Any]
    # pipeline stages mark "construct" themselves, on entering the stage fn
    op_marks_construct: bool = False


@dataclass
class Workload:
    """Base: subclasses fill ``sizes``, ``paths`` and the four hooks."""

    seed: int
    work: str
    sizes: dict = field(default_factory=dict)
    paths: dict = field(default_factory=dict)
    expected: dict = field(default_factory=dict)

    name = ""

    def make_inputs(self) -> None:
        raise NotImplementedError

    def compute_oracle(self, oracle: O.Oracle) -> None:
        raise NotImplementedError

    def calls(self, spark, it: int) -> list[Call]:
        raise NotImplementedError

    def check(self, op: str, out) -> tuple[str | None, int]:
        """-> (error or None, output rows)."""
        raise NotImplementedError

    def end_iteration(self, it: int) -> None:
        pass

    # -- traced run only ----------------------------------------------
    def prepare_replay(self, spark) -> None:
        """Collect the kernel-replay inputs once."""

    def replay(self, op: str, tracer) -> None:
        """Replay the kernels behind ``op`` under ``replay:`` spans."""

    def layer_counts(self, op: str, out, rec: dict) -> dict:
        return {}

    def _write(self, key: str, df: pd.DataFrame) -> None:
        self.paths[key] = I.write(df, os.path.join(self.work, "inputs", f"{key}.parquet"))


def _rect_wkt():
    from pyspark.sql import functions as F

    c = F.col
    return F.concat(
        F.lit("POLYGON (("), c("minx"), F.lit(" "), c("miny"), F.lit(", "),
        c("maxx"), F.lit(" "), c("miny"), F.lit(", "), c("maxx"), F.lit(" "),
        c("maxy"), F.lit(", "), c("minx"), F.lit(" "), c("maxy"), F.lit(", "),
        c("minx"), F.lit(" "), c("miny"), F.lit("))"))


def _star_wkt():
    """12-gon star on the rectangle's center, radius h * R_k on spoke k."""
    from pyspark.sql import functions as F

    cx = (F.col("minx") + F.col("maxx")) / 2
    cy = (F.col("miny") + F.col("maxy")) / 2
    half = (F.col("maxx") - F.col("minx")) / 2
    parts = [F.lit("POLYGON ((")]
    for k in range(13):
        rad = half * O.STAR_R[k % 12]
        a = O.STAR_A[k % 12]
        parts += [cx + rad * math.cos(a), F.lit(" "), cy + rad * math.sin(a)]
        if k < 12:
            parts.append(F.lit(", "))
    parts.append(F.lit("))"))
    return F.concat(*parts)


# ---------------------------------------------------------------------------


class JoinBroadcast(Workload):
    """The broadcast build path of sjoin, sjoin_nearest and overlay."""

    name = "join_broadcast"
    N_POINTS, N_RECTS = 5_000, 6_000
    # star layers for the overlay: a seeded share packed into one hot box
    N_PARTS, HOT_SHARE, HOT_WIDTH = 2_000, 0.15, 0.15
    # cell resolutions of the replayed covers: the sjoin call's, and cells
    # of 1/32 (about one star) for the overlay
    SJOIN_RES, STAR_RES = 6, 5

    def make_inputs(self) -> None:
        self.sizes = {"points": self.N_POINTS, "rects": self.N_RECTS,
                      "stars_a": self.N_PARTS // 2,
                      "stars_b": self.N_PARTS - self.N_PARTS // 2,
                      "hot_share": self.HOT_SHARE, "hot_width": self.HOT_WIDTH}
        self._write("points", I.points(self.seed, self.N_POINTS))
        self._write("rects", I.rects(self.seed, self.N_RECTS))
        self._write("parts", I.rects(self.seed + 1, self.N_PARTS, self.HOT_SHARE,
                                     self.HOT_WIDTH))

    def compute_oracle(self, oracle: O.Oracle) -> None:
        p, r = self.paths["points"], self.paths["rects"]
        self.expected["sjoin"] = oracle.points_in_rects(p, r)
        self.expected["sjoin_nearest"] = oracle.nearest_center(p, r)
        self.expected["overlay"] = oracle.star_candidates(self.paths["parts"])

    def frames(self, spark):
        from pyspark.sql import functions as F

        from geopandas_spark.functions.st import st_geomfromtext, st_point

        pts = spark.read.parquet(self.paths["points"]).select(
            "c_custkey", st_point("x", "y").alias("geometry"))
        r = spark.read.parquet(self.paths["rects"])
        rects = r.select("p_partkey", st_geomfromtext(_rect_wkt()).alias("geometry"))
        centers = r.select("p_partkey", st_point(
            (F.col("minx") + F.col("maxx")) / 2,
            (F.col("miny") + F.col("maxy")) / 2).alias("geometry"))
        return pts, rects, centers

    def star_layers(self, spark):
        """Stars of even keys (layer a) and odd keys (layer b)."""
        from pyspark.sql import functions as F

        from geopandas_spark.functions.st import st_geomfromtext

        stars = spark.read.parquet(self.paths["parts"]).select(
            "p_partkey", st_geomfromtext(_star_wkt()).alias("geometry"))
        a = stars.filter(F.col("p_partkey") % 2 == 0)
        b = (stars.filter(F.col("p_partkey") % 2 == 1)
             .withColumnRenamed("p_partkey", "q_partkey"))
        return a, b

    def calls(self, spark, it: int) -> list[Call]:
        from pyspark.sql import functions as F

        from geopandas_spark.functions.st import st_area
        from geopandas_spark.operators.nearest import sjoin_nearest
        from geopandas_spark.operators.overlay import overlay
        from geopandas_spark.operators.sjoin import sjoin

        def c_sjoin(mark):
            pts, rects, _ = self.frames(spark)
            out = sjoin(pts, rects, how="inner", predicate="intersects",
                        left_id="c_custkey", right_id="p_partkey",
                        resolution=self.SJOIN_RES)
            mark("execute")
            return out.select("c_custkey", F.col("index_right").alias("p_partkey")).toArrow()

        def c_knn(mark):
            pts, _, centers = self.frames(spark)
            out = sjoin_nearest(pts, centers, how="inner", distance_col="dist",
                                left_id="c_custkey", right_id="p_partkey")
            mark("execute")
            return out.select("c_custkey", F.col("index_right").alias("p_partkey"),
                              F.round("dist", 9).alias("dist_r")).toArrow()

        def c_overlay(mark):
            a, b = self.star_layers(spark)
            out = overlay(a, b, how="intersection", id1="p_partkey",
                          id2="q_partkey", make_valid=False)
            mark("execute")
            return out.select("p_partkey", "q_partkey",
                              st_area("geometry").alias("ia")).toArrow()

        return [Call("sjoin", c_sjoin), Call("sjoin_nearest", c_knn),
                Call("overlay", c_overlay)]

    def check(self, op, out):
        got = out.to_pandas()
        want = self.expected[op]
        if op == "sjoin":
            err = O.same_pairs(got["c_custkey"], got["p_partkey"],
                               want["c_custkey"], want["p_partkey"], "sjoin")
        elif op == "sjoin_nearest":
            err = O.nearest_ok(got, want)
        else:
            err = O.star_overlay_ok(got, want)
        return err, len(got)

    def prepare_replay(self, spark) -> None:
        pts, rects, _ = self.frames(spark)
        a, b = self.star_layers(spark)
        self.replay_in = {"sjoin": (_wkb(pts), _wkb(rects), self.SJOIN_RES),
                          "overlay": (_wkb(a), _wkb(b), self.STAR_RES)}

    def replay(self, op, tracer) -> None:
        from . import replay as R

        if op not in self.replay_in:
            return
        left, right, res = self.replay_in[op]
        a, b = R.decode(tracer, left, right)
        ca, cb = R.cover(tracer, [a, b], res)
        ia, ib = R.candidate_pairs(tracer, ca, cb)
        sa, sb = R.refine(tracer, "intersects", a, b, ia, ib)
        if op == "overlay":
            R.intersect(tracer, a, b, sa, sb)


class DocsPipeline(Workload):
    name = "docs_pipeline"
    N_DOCS, N_CORPUS = 4_000, 400
    STAGES = ("tiles", "minhash_lsh", "ngram_jaccard")

    def make_inputs(self) -> None:
        self.sizes = {"docs": self.N_DOCS, "corpus": self.N_CORPUS}
        self._write("orders", I.orders(self.seed, self.N_DOCS))
        self._write("corpus", I.corpus(self.seed, self.N_CORPUS))

    def compute_oracle(self, oracle: O.Oracle) -> None:
        self.expected["tiles"] = oracle.tiles(self.paths["orders"])
        self.expected["minhash_lsh"] = oracle.minhash_pairs(self.paths["corpus"])
        self.expected["ngram_jaccard"] = oracle.ngram_pairs(self.paths["corpus"])

    def docs(self, spark):
        """Interleaved (doc_id, spans) documents: prose, a WKT point, a
        media tile ref — built with Catalyst expressions from orders."""
        from pyspark.sql import functions as F

        o = spark.read.parquet(self.paths["orders"])
        o = (o.withColumn("px", (F.col("o_orderkey") * I.HA % F.lit(I.M32) % 997).cast("long"))
              .withColumn("py", (F.col("o_orderkey") * I.HB % F.lit(I.M32) % 983).cast("long")))
        wkt = F.concat(F.lit("POINT ("), F.col("px").cast("string"), F.lit(" "),
                       F.col("py").cast("string"), F.lit(")"))
        media = F.concat(F.lit("tile://7/"), (F.col("px") % 128).cast("string"),
                         F.lit("/"), (F.col("py") % 128).cast("string"))
        nul = F.lit(None).cast("string")
        spans = F.array(
            F.struct(F.lit("text").alias("kind"), F.col("o_orderpriority").alias("text"),
                     nul.alias("media_ref"), F.lit(0).alias("offset")),
            F.struct(F.lit("text").alias("kind"), wkt.alias("text"),
                     nul.alias("media_ref"), F.lit(1).alias("offset")),
            F.struct(F.lit("media").alias("kind"), nul.alias("text"),
                     media.alias("media_ref"), F.lit(2).alias("offset")))
        return o.select(F.concat(F.lit("doc-"), F.lpad(F.col("o_orderkey").cast("string"),
                                                      12, "0")).alias("doc_id"),
                        spans.alias("spans"))

    def _stage_fns(self, mark):
        from pyspark.sql import functions as F

        from geopandas_spark.operators.dedup import minhash_lsh, ngram_jaccard
        from geopandas_spark.operators.tiles import to_tiles
        from geopandas_spark.sources.documents import (span_serial_fingerprint,
                                                       with_geometry)

        def tiles(spark, _inputs):
            mark("construct")
            t = to_tiles(with_geometry(self.docs(spark)), zoom=4,
                         domain=self.DOMAIN, clip=False)
            m = F.element_at(F.filter("spans", lambda s: s["kind"] == F.lit("media")),
                             1)["media_ref"]
            media_re = r"^tile://7/(\d+)/(\d+)$"
            out = t.select("doc_id", F.col("tile_id").alias("tile"),
                           F.regexp_extract(m, media_re, 1).cast("long").alias("m_tx"),
                           F.regexp_extract(m, media_re, 2).cast("long").alias("m_ty"),
                           span_serial_fingerprint("spans").alias("span_fp"))
            mark("execute")
            return out

        def minhash(spark, _inputs):
            mark("construct")
            out = minhash_lsh(spark.read.parquet(self.paths["corpus"]), "text",
                              "doc_id", num_perm=32, bands=8, threshold=0.5)
            out = out.select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))
            mark("execute")
            return out

        def ngram(spark, _inputs):
            mark("construct")
            out = ngram_jaccard(spark.read.parquet(self.paths["corpus"]), "text",
                                "doc_id", n=3, threshold=0.2, max_df=None)
            out = out.select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))
            mark("execute")
            return out

        return {"tiles": tiles, "minhash_lsh": minhash, "ngram_jaccard": ngram}

    def pipe_dir(self, it: int) -> str:
        return os.path.join(self.work, "pipeline", f"it{it}")

    def calls(self, spark, it: int) -> list[Call]:
        from geopandas_spark.plans.pipeline import Pipeline

        wd = self.pipe_dir(it)
        shutil.rmtree(wd, ignore_errors=True)
        pipe = Pipeline(spark, wd, name="perfbench")
        params = {"seed": self.seed, "docs": self.N_DOCS, "corpus": self.N_CORPUS}

        def stage(name):
            def body(mark):
                pipe.stage(name, self._stage_fns(mark)[name], params=params)
                return os.path.join(wd, name, "data")
            return body

        def resume(mark):
            mark("execute")
            again = Pipeline(spark, wd, name="perfbench")
            ran = []
            for name in self.STAGES:
                fn = self._stage_fns(lambda phase, _n=name: ran.append(_n))[name]
                again.stage(name, fn, params=params)
            return sorted(set(ran))

        return ([Call(s, stage(s), op_marks_construct=True) for s in self.STAGES]
                + [Call("resume", resume, op_marks_construct=True)])

    def check(self, op, out):
        if op == "resume":
            if out:
                return f"resume re-ran stages {out}", 0
            return None, 0
        got = pq.read_table(out).to_pandas()
        want = self.expected[op]
        if op == "tiles":
            err = O.same_frame(got, want, ["doc_id"], "tiles")
        else:
            err = O.same_frame(got, want, ["id_a", "id_b"], op, tol={"jaccard": 1.5e-9})
        return err, len(got)

    DOMAIN = (0.0, 0.0, 997.0, 983.0)

    def prepare_replay(self, spark) -> None:
        from geopandas_spark.sources.documents import with_geometry

        self.replay_in = _wkb(with_geometry(self.docs(spark)))

    def replay(self, op, tracer) -> None:
        from . import replay as R

        if op != "tiles":
            return
        (g,) = R.decode(tracer, self.replay_in)
        R.cover(tracer, [g], 4, domain=self.DOMAIN)

    def layer_counts(self, op, out, rec) -> dict:
        if op == "resume":
            return {"plans.pipeline.resume_s": rec["wall_s"],
                    "plans.pipeline.stages_skipped": len(self.STAGES) - len(out or ())}
        stage_dir = os.path.dirname(out)
        n_bytes = n_files = 0
        for d, _dirs, files in os.walk(stage_dir):
            for f in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(d, f))
        return {"plans.pipeline.bytes_written": n_bytes,
                "plans.pipeline.files_written": n_files,
                "plans.pipeline.stage_write_s": rec["execute_s"]}

    def end_iteration(self, it: int) -> None:
        if it > 0:
            shutil.rmtree(self.pipe_dir(it - 1), ignore_errors=True)


WORKLOADS = {w.name: w for w in (JoinBroadcast, DocsPipeline)}
