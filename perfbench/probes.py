"""Counters read from outside the engine: ``/proc``, Spark's status
tracker and status store, the executed physical plans, and the driver's
block manager. Nothing here patches or wraps ``geopandas_spark``.
"""

from __future__ import annotations

import itertools
import os
import re
import threading
from time import perf_counter as perf


# ---------------------------------------------------------------------------
# process-tree memory (psutil is not available)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows its ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and its descendants: a page
    shared by n processes counts 1/n in each, so the Python workers that
    Spark's daemon forks do not count the daemon's pages again."""
    kids = _children_map()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
        stack.extend(kids.get(pid, ()))
    return total


# seconds between two memory samples
MEM_INTERVAL = 0.1


class MemSampler:
    """One thread samples the total PSS of this process and all of its
    descendants (driver Python, the JVM, Spark's Python workers)."""

    def __init__(self, root: int):
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="mem-sampler",
                                        daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.root))
            self._stop.wait(MEM_INTERVAL)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# executed-plan metrics


class QeListener:
    """Spark ``QueryExecutionListener`` implemented over the py4j callback
    server: records every finished query (the engine's own eager queries,
    the benchmark's actions, the pipeline's writes) with the tag of the
    phase that was current when it was delivered."""

    def __init__(self):
        self.events: list[tuple] = []
        self.tag = None

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self.events.append((self.tag, qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self.events.append((self.tag, qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


PLAN_KEYS = (
    "python.nodes", "python.init_task_s", "python.total_task_s",
    "python.bytes_sent", "python.bytes_received", "python.rows_received",
    "shuffle.bytes_written", "shuffle.records_written", "shuffle.write_task_s",
    "shuffle.fetch_wait_task_s", "aqe.skewed_splits",
    "broadcast.collect_s", "broadcast.build_s", "scan.rows", "scan.bytes",
)


# one py4j call per node: SQLMetric.toString is
# "SQLMetric(id: <id>, name: <Some(text)|None>, value: <long>)"
_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: -?\d+, name: .*?, value: (-?\d+)\)")
# timing metrics are milliseconds except these (nanoseconds)
_NS_TIMINGS = {"shuffleWriteTime"}


def _seconds(m: dict, name: str) -> float:
    return m[name] / (1e9 if name in _NS_TIMINGS else 1e3)


class PlanWalker:
    """Sums SQL metrics of an executed physical plan into layer metrics.

    Descends through ``AdaptiveSparkPlanExec.finalPhysicalPlan()``, each
    query stage's ``plan()``, command results and subqueries; every JVM
    node is counted once, so a reused exchange is not counted twice.

    Python-node timings are task-summed Spark metrics. Their meaning on
    Spark 4.1 (pinned by ``perfbench/tests/test_plan_walker.py``):
    ``pythonTotalTime`` runs from the task asking for a worker to the
    worker finishing the task, so it holds boot, UDF set-up and compute;
    ``pythonInitTime`` runs from the worker entering its task loop to the
    UDF being ready, and a reused worker enters that loop when it finished
    its previous task, so it also holds the time the worker sat idle.
    """

    def __init__(self, jvm):
        self.cc = jvm.scala.jdk.javaapi.CollectionConverters
        self.ident = jvm.java.lang.System.identityHashCode

    def walk(self, plan, acc: dict, seen: set) -> None:
        stack = [plan]
        while stack:
            p = stack.pop()
            h = self.ident(p)
            if h in seen:
                continue
            seen.add(h)
            cls = p.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(p.finalPhysicalPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(p.plan())
                continue
            if cls == "CommandResultExec":
                stack.append(p.commandPhysicalPlan())
            m = {k: int(v) for k, v in _METRIC.findall(p.metrics().toString())}
            self.add(cls, m, acc)
            stack.extend(self.cc.asJava(p.children()))
            stack.extend(self.cc.asJava(p.subqueries()))

    @staticmethod
    def add(cls: str, m: dict, acc: dict) -> None:
        def inc(key, v):
            acc[key] = acc.get(key, 0) + v

        if "pythonTotalTime" in m:
            inc("python.nodes", 1)
            inc("python.init_task_s", _seconds(m, "pythonInitTime"))
            inc("python.total_task_s", _seconds(m, "pythonTotalTime"))
            inc("python.bytes_sent", m["pythonDataSent"])
            inc("python.bytes_received", m["pythonDataReceived"])
            inc("python.rows_received", m["pythonNumRowsReceived"])
        if "shuffleBytesWritten" in m:
            inc("shuffle.bytes_written", m["shuffleBytesWritten"])
            inc("shuffle.records_written", m["shuffleRecordsWritten"])
            inc("shuffle.write_task_s", _seconds(m, "shuffleWriteTime"))
            inc("shuffle.fetch_wait_task_s", _seconds(m, "fetchWaitTime"))
        if "numSkewedSplits" in m:
            inc("aqe.skewed_splits", m["numSkewedSplits"])
        if cls == "BroadcastExchangeExec":
            inc("broadcast.collect_s", _seconds(m, "collectTime"))
            inc("broadcast.build_s", _seconds(m, "buildTime"))
        if cls == "FileSourceScanExec":
            inc("scan.rows", m["numOutputRows"])
            inc("scan.bytes", m.get("filesSize", 0))


# ---------------------------------------------------------------------------
# per-call probe for the traced run

# call ids run on across probes: they name the calls' job groups, and the
# status tracker keeps the jobs of every group of the session
_CALL_IDS = itertools.count(1)


class Probe:
    """Per-call counters of the traced iterations.

    Each call phase (``pre``, ``construct``, ``execute``) runs under its own
    Spark job group, so the status tracker attributes jobs to it; at each
    phase switch the listener bus is drained so finished queries carry the
    right phase tag. The time this takes is recorded as a ``probe`` span
    and kept out of the construct and execute spans.
    """

    def __init__(self, spark, tracer):
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.cc = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        ensure_callback_server_started(self.sc._gateway)
        self.listener = QeListener()
        self.manager = spark._jsparkSession.listenerManager()
        self.manager.register(self.listener)
        self.walker = PlanWalker(self.sc._jvm)
        self.tracer = tracer
        self.cid = 0
        self.cur: dict = {}

    def close(self) -> None:
        self.manager.unregister(self.listener)
        self.listener.events.clear()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(60_000)

    def broadcast_pieces(self) -> dict[str, int]:
        """Name -> size of every broadcast piece block in the driver's
        block manager: the serialized, compressed bytes of a broadcast
        variable, whether the engine made it with ``sc.broadcast`` or a
        ``BroadcastExchange`` built it."""
        out = {}
        it = self.cc.asJava(self.jsc.env().blockManager().blockInfoManager().entries())
        while it.hasNext():
            t = it.next()
            b = t._1()
            if b.isBroadcast() and "_piece" in b.name():
                out[b.name()] = t._2().size()
        return out

    def storage_used(self) -> int:
        """Bytes of block-manager storage memory in use (driver = the only
        executor in local mode)."""
        st = self.cc.asJava(self.jsc.getExecutorMemoryStatus())
        return sum(v._1() - v._2() for v in st.values())

    def _phase(self, phase: str) -> None:
        group = f"perfbench-{self.cid}-{phase}"
        self.listener.tag = (self.cid, phase)
        self.sc.setJobGroup(group, group)
        self.cur["groups"][phase] = group

    def call_begin(self, op: str) -> None:
        self.cid = next(_CALL_IDS)
        self.cur = {"op": op, "call_id": self.cid, "groups": {}, "pauses": {}}
        p0 = perf()
        self.cur["pieces_before"] = self.broadcast_pieces()
        self._phase("pre")
        self.cur["pauses"]["pre"] = (p0, perf())

    def switch(self, phase: str) -> None:
        p0 = perf()
        self.drain()
        self._phase(phase)
        self.cur["pauses"][phase] = (p0, perf())

    def call_end(self, marks: dict, t1: float) -> None:
        p0 = perf()
        self.drain()
        self.listener.tag = None
        self.sc._jsc.clearJobGroup()
        before = self.cur["pieces_before"]
        self.cur["broadcast_bytes"] = sum(
            v for k, v in self.broadcast_pieces().items() if k not in before)
        self.cur["pauses"]["end"] = (p0, perf())
        self.cur["marks"], self.cur["t1"] = dict(marks), t1

    def finish_call(self, parent: int) -> dict:
        """Spans and counters of the call just ended -> per-call record."""
        c, tr = self.cur, self.tracer
        pauses = c["pauses"]
        for name, (a, b) in pauses.items():
            tr.add("probe", a, b, parent=parent, call_id=c["call_id"], at=name)
        marks, t1 = c["marks"], c["t1"]
        construct = execute = 0.0
        if "construct" in pauses and "construct" in marks:
            end = pauses["execute"][0] if "execute" in pauses else t1
            construct = end - marks["construct"]
            tr.add("construct", marks["construct"], end, parent=parent, call_id=c["call_id"])
        if "execute" in marks:
            execute = t1 - marks["execute"]
            tr.add("execute", marks["execute"], t1, parent=parent, call_id=c["call_id"])
        t0 = pauses["pre"][0]
        probe_s = sum(b - a for k, (a, b) in pauses.items() if k != "end")
        wall = (t1 - t0) - probe_s
        out = {"op": c["op"], "construct_s": construct, "execute_s": execute,
               "wall_s": wall, "coverage": (construct + execute) / wall if wall else 1.0}

        # queries of this call, by phase
        acc: dict = {}
        seen: set = set()
        for tag, qe in self.listener.events:
            if tag is None or tag[0] != c["call_id"]:
                continue
            self.walker.walk(qe.executedPlan(), acc, seen)
        self.listener.events[:] = [e for e in self.listener.events
                                   if e[0] is not None and e[0][0] > c["call_id"]]
        out.update(acc)
        out["broadcast.bytes"] = c["broadcast_bytes"]
        # jobs and the widest stage
        tracker = self.sc.statusTracker()
        jobs = {ph: list(tracker.getJobIdsForGroup(g)) for ph, g in c["groups"].items()}
        out["driver_jobs"] = len(jobs.get("construct", ())) + len(jobs.get("pre", ()))
        out["task.max_over_median"] = self._widest_stage_skew(
            tracker, [j for js in jobs.values() for j in js])
        return out

    def _widest_stage_skew(self, tracker, job_ids) -> float:
        best = None
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                if st is not None and (best is None or st.numTasks > best[1]):
                    best = (sid, st.numTasks, st.currentAttemptId)
        if best is None or best[1] < 2:
            return 1.0
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.jsc.statusStore().taskSummary(best[0], best[2], q)
        if summary.isEmpty():
            return 1.0
        run = summary.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0
