"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It generates the workload's inputs from the
seed, evaluates the DuckDB oracles in a child process, starts one
``local[nproc]`` session through ``geopandas_spark.conf.get_spark``, runs
the warm-up iteration, then runs the workload's iteration in a closed loop
(one client) for ``--seconds`` and at least ``MIN_ITERS`` times, and checks
every output outside the timed region.

With ``--trace 1`` the loop alternates untraced and traced iterations,
starting and ending with an untraced one; the traced ones record spans,
plan metrics, job and stage counters and the kernel replays, and the
spans are written to ``.perfbench_out/`` at the end.

Human-readable lines go first; the last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``, both as ``BENCHMARK.json`` names them).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import traceback
from time import perf_counter as perf

WARMUP_ITERS = 1
# timed iterations run until --seconds have passed and at least this many
# ran (a traced run needs one traced iteration): two, so that a run on a
# slow host stays within the benchmark's time budget
MIN_ITERS = 2
# JVM heap cap, passed through get_spark's SPARK_DRIVER_MEM: the inputs are
# small, and the host's memory is shared
DRIVER_MEM = "2g"

# operator calls with their own end-to-end (<op>_s) and per-layer metrics
OPERATORS = ("sjoin", "sjoin_nearest", "overlay", "tiles", "minhash_lsh",
             "ngram_jaccard")
# end-to-end metrics printed on the human-readable lines but not in the
# result: BENCHMARK.json bounds the others (construct_s and execute_s of
# docs_pipeline are a few small phases whose run-to-run spread is wide,
# failed_frac is 0 and each <op>_s exists on one workload only)
PRINTED = {"construct_s": "s", "execute_s": "s", "failed_frac": "ratio",
           **{f"{op}_s": "s" for op in OPERATORS}}


def _load_metrics(root: str) -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def _ncpu() -> int:
    return len(os.sched_getaffinity(0))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _prepare_env(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the checkout's package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit: the gateway JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# one call, one iteration


def run_call(call, probe=None):
    """Times one call from the call to its last output row."""
    rec = {"op": call.op, "error": None}
    t0 = perf()
    marks = {}
    if probe is not None:
        probe.call_begin(call.op)

    def mark(phase):
        if probe is not None:
            probe.switch(phase)
        marks[phase] = perf()

    out = None
    try:
        if not call.op_marks_construct:
            mark("construct")
        out = call.body(mark)
    except Exception:
        rec["error"] = traceback.format_exc(limit=4)
    t1 = perf()
    ex = marks.get("execute", t1)
    rec["wall_s"] = t1 - t0
    rec["construct_s"] = ex - marks.get("construct", ex)
    rec["execute_s"] = rec["wall_s"] - rec["construct_s"]
    if probe is not None:
        probe.call_end(marks, t1)
    return out, rec


def run_iteration(wl, spark, it, probe=None, tracer=None):
    recs = []
    for call in wl.calls(spark, it):
        if probe is None:
            out, rec = run_call(call)
        else:
            with tracer.span(f"call:{call.op}") as cs:
                out, rec = run_call(call, probe)
                cs["call_id"] = probe.cid
                if rec["error"] is None:
                    wl.replay(call.op, tracer)
            with tracer.span("probe", call_id=probe.cid, at="collect"):
                rec["trace"] = probe.finish_call(cs["id"])
            rec["trace"]["replay_spans"] = [s for s in tracer.spans
                                            if s["parent"] == cs["id"]]
        if rec["error"] is None:
            with tracer.span("bench:check") if tracer else contextlib.nullcontext():
                try:
                    err, rows = wl.check(call.op, out)
                except Exception:
                    err, rows = traceback.format_exc(limit=4), 0
            rec["error"], rec["rows"] = err, rows
        else:
            rec["rows"] = 0
        if probe is not None and rec["error"] is None:
            rec["trace"].update(wl.layer_counts(call.op, out, rec["trace"]))
        recs.append(rec)
    wl.end_iteration(it)
    return recs


# ---------------------------------------------------------------------------
# metrics


def end_to_end(iters, setup_s, peak_pss, attempted, failed):
    """iters: per-iteration lists of call records (timed iterations only).
    Timings are medians over the iterations."""
    m = {
        "setup_s": setup_s,
        "wall_s": _median([sum(r["wall_s"] for r in it) for it in iters]),
        "rows_per_s": _median([sum(r["rows"] for r in it) / sum(r["wall_s"] for r in it)
                               for it in iters]),
        "construct_s": _median([sum(r["construct_s"] for r in it) for it in iters]),
        "execute_s": _median([sum(r["execute_s"] for r in it) for it in iters]),
        "peak_pss_mb": peak_pss / 2**20,
        "failed_frac": failed / attempted,
    }
    for op in OPERATORS:
        if any(r["op"] == op for r in iters[0]):
            m[f"{op}_s"] = _median([sum(r["wall_s"] for r in it if r["op"] == op)
                                    for it in iters])
    return m


def iteration_layers(recs, names) -> dict:
    """Per-layer counters of one traced iteration (sums over its calls)."""
    from perfbench.probes import PLAN_KEYS
    from perfbench.replay import summarize

    lay = {k: 0.0 for k in names}
    cov = []
    replay: dict = {}
    for r in recs:
        t = r["trace"]
        op = r["op"]
        if op in OPERATORS:
            lay[f"operators.{op}.construct_s"] += t["construct_s"]
            lay[f"operators.{op}.execute_s"] += t["execute_s"]
            lay[f"operators.{op}.driver_jobs"] += t["driver_jobs"]
        for k in PLAN_KEYS + ("broadcast.bytes",):
            lay[k] += t.get(k, 0)
        for k, v in t.items():
            if k.startswith("plans.pipeline."):
                lay[k] += v
        lay["task.max_over_median"] = max(lay["task.max_over_median"],
                                          t["task.max_over_median"])
        cov.append(t["coverage"])
        for k, v in summarize(t["replay_spans"]).items():
            replay[k] = replay.get(k, 0) + v
    for k, v in replay.items():
        if k in lay:
            lay[k] = v
    if replay.get("replay.geoms"):
        lay["index.cells.cells_per_geom"] = replay["replay.cells"] / replay["replay.geoms"]
    if replay.get("replay.refined"):
        lay["refine_hit_ratio"] = replay["geom.predicates.survivors"] / replay["replay.refined"]
    lay["trace.span_coverage_min"] = min(cov) if cov else 1.0
    return lay


# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="geopandas_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "geopandas_spark", "__init__.py")):
        print("perfbench: run from the repository root (geopandas_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    try:
        e2e_units, layer_units = _load_metrics(root)
    except (OSError, ValueError, KeyError) as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(root, work)
    try:
        result = _run(args, root, work, WORKLOADS[args.workload], e2e_units,
                      layer_units)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


def _expected_in_child(wl, out_dir: str) -> None:
    """Evaluates the workload's DuckDB oracles in a forked child that has
    exited before the session starts, so DuckDB's memory never counts in
    ``peak_pss_mb``; the expected frames come back as parquet."""
    import multiprocessing

    import pandas as pd

    def child():
        from perfbench.oracle import Oracle

        oracle = Oracle()
        try:
            wl.compute_oracle(oracle)
        finally:
            oracle.close()
        os.makedirs(out_dir)
        for key, df in wl.expected.items():
            df.to_parquet(os.path.join(out_dir, f"{key}.parquet"), index=False)

    proc = multiprocessing.get_context("fork").Process(target=child)
    proc.start()
    proc.join()
    if proc.exitcode != 0:
        raise RuntimeError(f"oracle process exited with code {proc.exitcode}")
    wl.expected = {f[:-len(".parquet")]: pd.read_parquet(os.path.join(out_dir, f))
                   for f in os.listdir(out_dir)}


def _run(args, root, work, cls, e2e_units, layer_units):
    import geopandas_spark

    if not os.path.realpath(geopandas_spark.__file__).startswith(os.path.realpath(root) + os.sep):
        print("perfbench: geopandas_spark was not imported from the checkout",
              file=sys.stderr)
        return None
    from geopandas_spark.conf import get_spark
    from perfbench.probes import Probe, MemSampler
    from perfbench.trace import Tracer

    ncpu = _ncpu()
    wl = cls(seed=args.seed, work=work)
    wl.make_inputs()
    _expected_in_child(wl, os.path.join(work, "expected"))
    counts = {"attempted": 0, "failed": 0}
    errors: list[str] = []

    def tally(recs):
        counts["attempted"] += len(recs)
        for r in recs:
            if r["error"] is not None:
                counts["failed"] += 1
                errors.append(f"{r['op']}: {r['error']}")
        return recs

    spark = None
    timed, traced = [], []
    tracer = Tracer() if args.trace else None
    with MemSampler(os.getpid()) as mem:
        try:
            t0 = perf()
            spark = get_spark("perfbench", cpus=ncpu)
            spark.sparkContext.setLogLevel("ERROR")
            session_s = perf() - t0
            for it in range(WARMUP_ITERS):
                tally(run_iteration(wl, spark, it))
            setup_s = perf() - t0
            it = WARMUP_ITERS
            if args.trace:
                wl.prepare_replay(spark)
            t_start = perf()
            with tracer.span("run") if tracer else contextlib.nullcontext():
                while True:
                    with tracer.span("iteration", it=it, traced=0) if tracer \
                            else contextlib.nullcontext():
                        timed.append(tally(run_iteration(wl, spark, it)))
                    it += 1
                    if tracer:
                        probe = Probe(spark, tracer)
                        try:
                            with tracer.span("iteration", it=it, traced=1):
                                traced.append(tally(run_iteration(wl, spark, it, probe,
                                                                  tracer)))
                        finally:
                            probe.close()
                        it += 1
                        storage_mb = probe.storage_used() / 2**20
                    done = len(traced) if tracer else len(timed)
                    if done >= (1 if tracer else MIN_ITERS) and \
                            perf() - t_start >= args.seconds:
                        break
                if tracer:
                    # untraced iterations on both sides of the traced ones, so
                    # the warm-up drift of the session cancels in the
                    # overhead ratio
                    with tracer.span("iteration", it=it, traced=0):
                        timed.append(tally(run_iteration(wl, spark, it)))
        finally:
            if spark is not None:
                _stop(spark)
        peak = mem.peak

    attempted, failed = counts["attempted"], counts["failed"]
    e2e = end_to_end(timed, setup_s, peak, attempted, failed)
    print(f"workload {wl.name} seed {args.seed} inputs {json.dumps(wl.sizes)} "
          f"local[{ncpu}] warm-up {WARMUP_ITERS} iteration(s); timed "
          f"{len(timed)} iteration(s); {attempted} calls, {failed} failed")
    print("end-to-end (medians over the timed iterations; setup_s and "
          "peak_pss_mb once per run):")
    for name, unit in {**e2e_units, **PRINTED}.items():
        v = e2e.get(name)
        print(f"  {name:<16} {'n/a' if v is None else f'{v:.6g}':>12} {unit}")
    for op in dict.fromkeys(r["op"] for r in timed[0]):
        rs = [r for it_ in timed for r in it_ if r["op"] == op]
        print(f"  call {op:<14} wall {_median([r['wall_s'] for r in rs]):8.3f} s  "
              f"construct {_median([r['construct_s'] for r in rs]):8.3f} s  "
              f"execute {_median([r['execute_s'] for r in rs]):8.3f} s  "
              f"rows {rs[-1]['rows']}")
    print("  timed iteration walls (s): "
          + " ".join(f"{sum(r['wall_s'] for r in it_):.3f}" for it_ in timed))
    for e in errors[:5]:
        print("ERROR", e.strip().replace("\n", " | ")[:800])

    if not args.trace:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
    else:
        layers = [iteration_layers(recs, layer_units) for recs in traced if all(
            r["error"] is None for r in recs)] or [iteration_layers(traced[-1], layer_units)]
        lay = {k: _median([lz[k] for lz in layers]) for k in layer_units}
        lay["conf.session_start_s"] = session_s
        lay["conf.warmup_s"] = setup_s - session_s
        lay["operators.storage_mem_mb"] = storage_mb
        untraced_wall = _median([sum(r["wall_s"] for r in it_) for it_ in timed])
        traced_wall = _median([sum(r["wall_s"] for r in it_) for it_ in traced])
        lay["trace.overhead_frac"] = traced_wall / untraced_wall - 1.0
        print(f"per-layer (traced run; medians over {len(layers)} traced iteration(s)):")
        for k, unit in layer_units.items():
            print(f"  {k:<44} {lay[k]:>14.6g} {unit}")
        path = os.path.join(root, ".perfbench_out",
                            f"trace-{wl.name}-seed{args.seed}.json")
        tracer.write(path, workload=wl.name, seed=args.seed, per_layer=lay,
                     calls=[[{k: v for k, v in r["trace"].items() if k != "replay_spans"}
                             for r in recs] for recs in traced])
        print(f"spans written to {os.path.relpath(path, root)}")
        metrics = {k: {"value": lay[k], "unit": u} for k, u in layer_units.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
