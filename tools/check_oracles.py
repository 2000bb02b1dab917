"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at a given sf dir, compare
row count + schema-sorted order-insensitive value hash. Usage:

    python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, ".")


def value_hash(rows, cols) -> str:
    cols_sorted = sorted(cols)
    lines = []
    for row in rows:
        d = dict(zip(cols, row))
        lines.append("\x1f".join(_norm(d[c]) for c in cols_sorted))
    lines.sort()
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _norm(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if v != v:
            return "nan"
        return repr(round(v, 9) + 0.0)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as E
    from geopandas_spark.conf import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark("check-oracles", cpus=cpus, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as ex:
            print(f"FAIL  {name}: spark error {type(ex).__name__}: {str(ex)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error {str(ex)[:200]}")
            failures += 1
            continue
        sh = value_hash(srows, scols)
        oh = value_hash(orows, ocols)
        ok = (len(srows) == len(orows)) and sorted(scols) == sorted(ocols) and sh == oh
        status = "OK   " if ok else "FAIL "
        if not ok:
            failures += 1
        print(f"{status} {name}: spark {len(srows)} rows / oracle {len(orows)}"
              f" | cols {sorted(scols)} vs {sorted(ocols)} | hash {sh} vs {oh}")
        if not ok and len(srows) and len(orows):
            sset = set(srows)
            oset = set(orows)
            # align column order for the diff
            import itertools
            print("   spark-only sample:", list(itertools.islice(
                (r for r in sset if r not in oset), 3)))
            print("   oracle-only sample:", list(itertools.islice(
                (r for r in oset if r not in sset), 3)))
    print("FAILURES:", failures)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
