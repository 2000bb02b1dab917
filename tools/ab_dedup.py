"""A/B the round-4 bench regressions under the driver protocol
(VERDICT r4 'Next round' item 1):

  - minhash_near_dups: verify_scope='candidates' (r4 semi-join verify)
    vs verify_scope='corpus' (r3 whole-corpus shingle) — same session,
    same window, interleaved, best-of-N.
  - ngram_jaccard_pairs: plan nominally unchanged since r3 (the gate
    runs max_df=None, which bypasses the conditional prune) — a clean
    re-measure attributes the +60% driver delta to noise or not.

Usage: python tools/ab_dedup.py [sf_dir] [--cpus N] [--reps N]
Prints one JSON line per variant with min/all-sample seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

sys.path.insert(0, ".")


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") \
        else "/root/testdata/sf0.1"
    cpus = int(sys.argv[sys.argv.index("--cpus") + 1]) if "--cpus" in sys.argv else 32
    reps = int(sys.argv[sys.argv.index("--reps") + 1]) if "--reps" in sys.argv else 3

    from pyspark.sql import functions as F

    from geopandas_spark.conf import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "16g")
    spark = get_spark("ab-dedup", cpus, shuffle_partitions=max(2 * cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")

    from geopandas_spark.operators.dedup import minhash_lsh, ngram_jaccard

    def _docs():
        return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def mh(scope):
        out = minhash_lsh(_docs(), "text", "doc_id", num_perm=32, bands=8,
                          threshold=0.5, verify_scope=scope)
        return out.select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))

    variants = {
        "minhash_candidates": lambda: mh("candidates"),
        "minhash_corpus": lambda: mh("corpus"),
        "ngram_jaccard": lambda: ngram_jaccard(
            _docs(), "text", "doc_id", n=3, threshold=0.2, max_df=None
        ).select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard")),
    }

    # warmup (driver protocol: one untimed pass at the measured sf)
    for fn in variants.values():
        fn().count()
        spark.catalog.clearCache()

    samples: dict[str, list[float]] = {k: [] for k in variants}
    rows: dict[str, int] = {}
    for _ in range(reps):
        for name, fn in variants.items():
            t0 = time.time()
            rows[name] = fn().count()
            samples[name].append(round(time.time() - t0, 3))
            spark.catalog.clearCache()

    for name in variants:
        print(json.dumps({
            "variant": name, "min_sec": min(samples[name]),
            "samples": samples[name], "rows": rows[name],
            "sf_dir": sf_dir, "cpus": cpus,
        }))
    spark.stop()


if __name__ == "__main__":
    main()
