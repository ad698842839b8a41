"""Measurement outside the library: process-tree CPU and memory from
/proc, spans around calls into each layer, and Spark's own counters
(status tracker, SQL metrics of executed plans, stream progress)."""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        stat = f.read()
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def _proc_table() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, cpu seconds of the process and its reaped children,
    command name)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            comm, rest = _stat(f"/proc/{name}/stat")
        except OSError:
            continue
        ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(rest[1]), ticks / _TICK, comm)
    return out


def tree_pids(table: dict | None = None) -> list[int]:
    """This process and every descendant (the JVM and its Python workers)."""
    table = table or _proc_table()
    kids = defaultdict(list)
    for pid, (ppid, *_) in table.items():
        kids[ppid].append(pid)
    pids, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(kids[pid])
    return pids


def _jit_cpu_s(pid: int) -> float:
    """CPU seconds of a JVM's live JIT compiler threads. The JVM starts and
    stops compiler threads as it needs them, and the time of one that has
    exited is no longer seen here, so this is a lower bound."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            comm, rest = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            ticks += int(rest[11]) + int(rest[12])
    return ticks / _TICK


def tree_cpu_s() -> tuple[float, float]:
    """(CPU seconds used so far by the whole process tree, CPU seconds of
    the JVM's live JIT compiler threads among them)."""
    table = _proc_table()
    total = jit = 0.0
    for pid in tree_pids(table):
        if pid not in table:
            continue
        total += table[pid][1]
        if table[pid][2] == "java":
            try:
                jit += _jit_cpu_s(pid)
            except OSError:
                pass
    return total, jit


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak resident set
    (VmHWM), in MiB."""
    kib = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
        except OSError:
            pass
    return kib / 1024.0


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to others while this host's CPUs
    wanted to run (the `steal` column of /proc/stat), summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts too)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


class Tracer:
    """Spans (name, start, end, parent) kept in memory, written at the end.
    Disabled, `span` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        if parent is None and stack:
            parent = stack[-1]
        start = time.perf_counter() - self._t0
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans.append({
                "id": sid, "name": name, "parent": parent, "start": start,
                "end": time.perf_counter() - self._t0, **attrs,
            })

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, f)


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the status tracker holds for a job group."""
    st = sc.statusTracker()
    jobs, stages, tasks = 0, 0, 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        if info is None:
            continue
        jobs += 1
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is not None and si.numTasks > 0:
                stages += 1
                tasks += si.numTasks
    return jobs, stages, tasks


# SQL metrics summed over every node of an executed plan, by layer:
# layer metric -> (node class names that count, or None for any node,
# SQL metric name). File scans report rows and scan time; shuffles the
# bytes written; sorts, aggregates, windows and joins their spill; Python
# evaluation nodes the Arrow bytes crossing the JVM<->Python boundary and
# the time spent in the Python workers.
_SCANS = ("FileSourceScanExec", "BatchScanExec")
_PYTHON = (
    "ArrowEvalPythonExec", "ArrowEvalPythonUDTFExec", "MapInPandasExec",
    "MapInArrowExec", "FlatMapGroupsInPandasExec", "FlatMapGroupsInArrowExec",
    "FlatMapCoGroupsInPandasExec", "AggregateInPandasExec",
    "WindowInPandasExec", "ArrowWindowPythonExec", "BatchEvalPythonExec",
    "BatchEvalPythonUDTFExec",
)
PLAN_METRICS = {
    "sources.scan_rows": (_SCANS, "numOutputRows"),
    "sources.scan_ms": (_SCANS, "scanTime"),
    "operators.shuffle_bytes": (None, "shuffleBytesWritten"),
    "operators.spill_bytes": (None, "spillSize"),
    "functions.arrow_bytes_in": (_PYTHON, "pythonDataSent"),
    "functions.arrow_bytes_out": (_PYTHON, "pythonDataReceived"),
    "functions.python_eval_ms": (_PYTHON, "pythonTotalTime"),
}


def _plan_metrics(plan, acc: dict[str, float]) -> None:
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":  # the final plan after execution
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls.startswith("Reused"):  # counted where the reused node ran
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = kv._1()
            for name, (classes, metric) in PLAN_METRICS.items():
                if key == metric and (classes is None or cls in classes):
                    acc[name] += kv._2().value()
        children = node.children().iterator()
        while children.hasNext():
            todo.append(children.next())


class PlanMetrics:
    """A QueryExecutionListener that sums SQL metrics of every executed
    plan; `take()` drains the listener bus and returns and resets the sums."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._sc = spark.sparkContext
        ensure_callback_server_started(self._sc._gateway)
        self._lock = threading.Lock()
        self._acc: dict[str, float] = defaultdict(float)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        acc: dict[str, float] = defaultdict(float)
        _plan_metrics(qe.executedPlan(), acc)
        with self._lock:
            for k, v in acc.items():
                self._acc[k] += v

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass

    def take(self) -> dict[str, float]:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            out = {k: self._acc.get(k, 0.0) for k in PLAN_METRICS}
            self._acc = defaultdict(float)
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
