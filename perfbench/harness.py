"""Measurement machinery shared by every workload.

- ``Trace``: spans (name, layer, start, end, parent, pass id) and counters
  kept in memory; per-layer self time is computed from them at the end.
- ``Ctx``: what an op sees — ``span`` around a call into a layer and
  ``collect`` for the action, which in a traced pass also tags the Spark
  jobs with a job group and reads the executed plan's SQL metrics.
- ``spark_jobs``: job / stage / task counts of a job group from the
  status tracker, which works with ``spark.ui.enabled=false``, read
  once the listener bus has caught up.
- ``plan_metrics``: walks an executed plan, descending into AQE query
  stages, and sums the SQL metrics the per-layer ledger needs.
- ``RssSampler``: peak resident set size of this process and all its
  descendants (JVM, Python workers), sampled from ``/proc``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")

# Executed-plan node classes that cross into Python workers.
_PY_NODES = ("EvalPython", "InPandas", "InArrow")


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Span:
    __slots__ = ("sid", "parent", "pass_id", "name", "layer", "start", "end")

    def __init__(self, sid, parent, pass_id, name, layer, start):
        self.sid, self.parent, self.pass_id = sid, parent, pass_id
        self.name, self.layer, self.start, self.end = name, layer, start, None


class Trace:
    """In-memory span and counter store. Disabled traces record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[tuple[int, str], float] = {}
        self._stack: list[Span] = []
        self.pass_id = -1

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), parent, self.pass_id, name, layer,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            key = (self.pass_id, name)
            self.counters[key] = self.counters.get(key, 0.0) + value

    def per_pass(self, name: str, passes) -> list[float]:
        return [self.counters.get((p, name), 0.0) for p in passes]

    def self_times(self, passes) -> dict[str, float]:
        """Median over ``passes`` of each layer's self time: a span's
        duration minus the part of it its child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        per: dict[str, dict[int, float]] = {}
        for s in self.spans:
            if s.pass_id not in passes:
                continue
            covered = _union_length([(c.start, c.end) for c in kids.get(s.sid, ())])
            own = (s.end - s.start) - covered
            per.setdefault(s.layer, {}).setdefault(s.pass_id, 0.0)
            per[s.layer][s.pass_id] += own
        return {layer: median([d.get(p, 0.0) for p in passes])
                for layer, d in per.items()}

    def span_medians(self, passes) -> dict[str, float]:
        """Median over ``passes`` of the summed duration of spans by name."""
        tot: dict[str, dict[int, float]] = {}
        for s in self.spans:
            if s.pass_id in passes:
                d = tot.setdefault(s.name, {})
                d[s.pass_id] = d.get(s.pass_id, 0.0) + (s.end - s.start)
        return {n: median([d.get(p, 0.0) for p in passes]) for n, d in tot.items()}

    def dump(self) -> dict:
        return {
            "spans": [{"id": s.sid, "parent": s.parent, "pass": s.pass_id,
                       "name": s.name, "layer": s.layer,
                       "start": s.start, "end": s.end} for s in self.spans],
            "counters": [{"pass": p, "name": n, "value": v}
                         for (p, n), v in sorted(self.counters.items())],
        }


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Ctx:
    """Handed to every op. In an untraced pass ``span`` is a no-op and
    ``collect`` is ``df.collect()``."""

    def __init__(self, spark, trace: Trace):
        self.spark = spark
        self.trace = trace
        self.op = ""
        self.layer = ""

    @contextmanager
    def span(self, name: str, layer: str | None = None, phase: str = "build"):
        """Span around a call into ``layer`` (default: the op's layer).
        In a traced pass the Spark jobs the call starts land in the job
        group ``<pass>/<op>/<phase>``."""
        if not self.trace.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = f"pb/{self.trace.pass_id}/{self.op}/{phase}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            with self.trace.span(name, layer or self.layer):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.trace.count(f"{self.layer}.{phase}_s", time.perf_counter() - t0)
            self._count_jobs(group, phase)

    def collect(self, df):
        """Run ``df`` and return its rows. Traced: a ``spark`` span, job
        counts and the executed plan's SQL metrics for this op."""
        if not self.trace.enabled:
            return df.collect()
        with self.span(f"{self.op}.run", "spark", phase="run"):
            rows = df.collect()
        for k, v in plan_metrics(df).items():
            for scope in ("all", self.layer, f"op.{self.op}"):
                self.trace.count(f"{scope}.{k}", v)
        return rows

    def _count_jobs(self, group: str, phase: str) -> None:
        jobs, stages, tasks = spark_jobs(self.spark, group)
        for scope in ("spark", self.layer, f"op.{self.op}"):
            self.trace.count(f"{scope}.{phase}_jobs", jobs)
            self.trace.count(f"{scope}.stages", stages)
            self.trace.count(f"{scope}.tasks", tasks)


def spark_jobs(spark, group: str, timeout: float = 10.0) -> tuple[int, int, int]:
    """(jobs, stages run, tasks completed) of a job group. The status
    tracker is filled from Spark's asynchronous listener bus, so first
    wait until the bus has delivered every event posted so far and every
    job of the group reads as finished (a job still being cancelled
    after the action returned is given up to ``timeout`` seconds)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    deadline = time.perf_counter() + timeout
    while True:
        sc._jsc.sc().listenerBus().waitUntilEmpty(int(timeout * 1000))
        infos = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        if (all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
                or time.perf_counter() >= deadline):
            break
        time.sleep(0.05)
    jobs = stages = tasks = 0
    for info in infos:
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return jobs, stages, tasks


def _metric(node, name):
    """One SQL metric of a plan node, timings in seconds, or None."""
    opt = node.metrics().get(name)
    if not opt.isDefined():
        return None
    m = opt.get()
    v = float(m.value())
    kind = m.metricType()
    if kind == "nsTiming":
        v /= 1e9
    elif kind == "timing":
        v /= 1e3
    return v


def _children(node):
    """Child plans, looking through AQE wrappers and query stages."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return []  # its metrics belong to the exchange it reuses
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def plan_metrics(df) -> dict[str, float]:
    """Sum the ledger's SQL metrics over ``df``'s executed plan (after an
    action has run it). Keys: python_nodes, python_task_s, python_boot_s,
    python_init_s, arrow_mb_sent, arrow_mb_received, shuffle_mb,
    shuffle_partitions, spill_mb."""
    out = dict.fromkeys(
        ("python_nodes", "python_task_s", "python_boot_s", "python_init_s",
         "arrow_mb_sent", "arrow_mb_received", "shuffle_mb",
         "shuffle_partitions", "spill_mb"), 0.0)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if any(p in cls for p in _PY_NODES):
            out["python_nodes"] += 1
            for key, name in (("python_task_s", "pythonTotalTime"),
                              ("python_boot_s", "pythonBootTime"),
                              ("python_init_s", "pythonInitTime")):
                out[key] += _metric(node, name) or 0.0
            out["arrow_mb_sent"] += (_metric(node, "pythonDataSent") or 0.0) / 1e6
            out["arrow_mb_received"] += (_metric(node, "pythonDataReceived") or 0.0) / 1e6
        if cls.startswith("ShuffleExchange"):
            b = _metric(node, "shuffleBytesWritten")
            out["shuffle_mb"] += (b if b is not None else _metric(node, "dataSize") or 0.0) / 1e6
            out["shuffle_partitions"] += _metric(node, "numPartitions") or 0.0
        out["spill_mb"] += (_metric(node, "spillSize") or 0.0) / 1e6
        stack.extend(_children(node))
    return out


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread: peak RSS of the process tree while the ``with``
    block runs."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    def _sample(self):
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)
