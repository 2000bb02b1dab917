"""Benchmark harness — prints ONE JSON line with per-query seconds.

Runs the headline engine queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32).

Headline metric (BASELINE.json): spatial-join rows/sec of the flagship
sjoin (points x rects, intersects, cell join + exact refine). The north
rule's two-cluster-size scaling evidence lives in BENCH/BASELINE.md
(same job at local[8] vs local[32]); run `python bench.py --cpus 8` to
reproduce one side.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if "--cpus" in sys.argv:
        cpus = int(sys.argv[sys.argv.index("--cpus") + 1])
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from geopandas_spark.conf import get_spark

    spark = get_spark("geopandas-spark-bench", cpus=cpus,
                      shuffle_partitions=max(2 * cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    qs = E.queries()
    headline = [
        "sjoin_points_in_rects",
        "sjoin_count_by_rect",
        "sjoin_nearest_center",
        "dissolve_nation_bounds",
        "overlay_rect_intersection",
        "tile_assignment",
        "clip_window_area",
        "morton_cells",
        "hilbert_keys",
        "exact_dedup_docs",
        "minhash_near_dups",
        "cosine_topk",
        "overlay_star_intersection",
        "overlay_dart_intersection",
        "ngram_jaccard_pairs",
        "make_valid_bowtie_area",
        "lsh_topk_embeddings",
        "ivf_topk_embeddings",
        "nearest_line",
        "decontaminate_docs",
        "media_image_stats",
        "media_audio_stats",
        "spans_pipeline",
    ]
    # Warmup pass (not timed, disclosed in the output JSON): this sandbox
    # runs on lazily-provisioned VM memory where the first touch of every
    # fresh page in each of the 32 python workers + the JVM costs ~25 MB/s
    # — a one-off ~2-3 min tax unrelated to engine throughput. One full
    # pass AT THE MEASURED SF faults in the worker heaps, JIT and codegen
    # so the timed pass below measures steady-state throughput (what a
    # long-running cluster job sees). Warming at a smaller SF is not
    # enough: workers then fault in their full-size heaps inside the
    # first timed pass (110s vs 27s observed for overlay_star at sf0.1).
    # clearCache between queries drops operator-internal persists so
    # queries don't interfere.
    warm_dir = sf_dir
    for name in headline:
        try:
            qs[name](spark, warm_dir).count()
        except Exception:
            pass
        spark.catalog.clearCache()

    # best-of-N timed passes (the shared host swings +-3x between
    # minutes; min is the standard noise-robust estimator — same
    # protocol as tools/scaling_bench.py). Passes are interleaved
    # (full sweep, then again) so one slow window can't taint every
    # second sample of the same query.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    for _ in range(reps):
        for name in headline:
            t0 = time.time()
            n = qs[name](spark, sf_dir).count()
            dt = round(time.time() - t0, 3)
            if name not in times or dt < times[name]:
                times[name] = dt
            rows[name] = n
            spark.catalog.clearCache()

    flagship_rows = rows["sjoin_points_in_rects"]
    flagship_sec = max(times["sjoin_points_in_rects"], 1e-9)
    total = round(sum(times.values()), 3)
    out = {
        "metric": "sjoin_rows_per_sec",
        "value": round(flagship_rows / flagship_sec, 1),
        "unit": "rows/sec",
        "total_sec": total,
        "cpus": cpus,
        "queries": times,
        "rows": rows,
        "sf": sf,
        "warmup": "one untimed pass at the measured sf (lazy-VM page-fault warmup; see comment)",
        "passes": reps,
        "estimator": "min over interleaved passes (host noise +-3x)",
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
