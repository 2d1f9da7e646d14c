"""Spans around the benchmark's calls into each layer, and the Spark
counters attributed to them.

A span is opened on the benchmark's own thread around a call into a
layer's public function. After each op the tracer flushes the listener
bus and reads Spark's job, stage and SQL status stores (they keep only
about 1,000 entries each, so reading per op loses none). Each job and SQL
execution goes to the innermost span that contains its submission time,
so jobs that the program submits from its own threads (the cross-
validation fits) still land in the span that caused them. Span counters
are inclusive: a job in a child span also counts for every ancestor.
"""

from __future__ import annotations

import inspect
import json
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Python-UDF nodes and their SQL metrics (PythonSQLMetrics)
PY_TOTAL = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """A SQL metric as the status store formats it, in bytes or seconds
    (plain counts stay counts). Aggregated metrics read
    "total (min, med, max ...)\\n<total> (...)": the total is used."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    name: str
    parent: int | None
    depth: int
    start_ms: float
    end_ms: float = float("inf")
    jobs: list = field(default_factory=list)  # job dicts attributed here
    executions: list = field(default_factory=list)


def union_ms(intervals: list[tuple[float, float]]) -> float:
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


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seen_jobs: set[int] = set()
        self._seen_execs: set[int] = set()
        self._pending: list[int] = []  # spans not yet harvested
        self.counts: dict[str, float] = {}
        self.accumulators: dict = {}  # name -> Spark accumulator the Python workers add to
        self._lock = threading.Lock()

    # -- spans and counters ---------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        depth = len(self._stack)
        sp = Span(name, parent, depth, time.time() * 1000.0)
        idx = len(self.spans)
        self.spans.append(sp)
        self._pending.append(idx)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            self._stack.pop()

    def add(self, key: str, value: float = 1.0) -> None:
        """Thread-safe counter (the program calls some layers from its
        own threads)."""
        with self._lock:
            self.counts[key] = self.counts.get(key, 0.0) + value

    def wrap(self, owner, attr: str, span_name: str | None = None, after=None):
        """Replace ``owner.attr`` by a wrapper that opens ``span_name``
        around the call (main thread only) and then calls
        ``after(tracer, args, result, seconds)``. Returns an undo callable."""
        original = getattr(owner, attr)
        own = attr in vars(owner)  # False for a method inherited by a class
        tracer = self

        def wrapper(*args, **kwargs):
            main = threading.current_thread() is threading.main_thread()
            t0 = time.perf_counter()
            if span_name and main:
                with tracer.span(span_name):
                    out = original(*args, **kwargs)
            else:
                out = original(*args, **kwargs)
            if after is not None:
                after(tracer, args, out, time.perf_counter() - t0)
            return out

        setattr(owner, attr, wrapper)
        return lambda: setattr(owner, attr, original) if own else delattr(owner, attr)

    def tap_udf(self, owner, attr: str, caller: str, key: str):
        """Replace ``owner.attr`` (``mapInPandas`` or ``applyInPandas``) by a
        wrapper that, when module ``caller`` calls it, wraps the pandas
        function so the Python workers count what the kernel receives into
        the accumulator ``key``: the input rows of a ``mapInPandas``
        function, or the calls (one per group) of an ``applyInPandas`` one.
        Returns an undo callable."""
        original = getattr(owner, attr)
        own = attr in vars(owner)
        acc = self.accumulators.setdefault(key, self.spark.sparkContext.accumulator(0))

        def tapped(fn):
            if attr == "mapInPandas":
                def counted(batches):
                    def seen():
                        for pdf in batches:
                            acc.add(len(pdf))
                            yield pdf

                    return fn(seen())

                return counted
            if len(inspect.signature(fn).parameters) == 1:  # Spark passes the key only to two-argument functions
                def counted(pdf):
                    acc.add(1)
                    return fn(pdf)
            else:
                def counted(key, pdf):
                    acc.add(1)
                    return fn(key, pdf)
            return counted

        def wrapper(self_, fn, *args, **kwargs):
            if sys._getframe(1).f_globals.get("__name__") == caller:
                fn = tapped(fn)
            return original(self_, fn, *args, **kwargs)

        setattr(owner, attr, wrapper)
        return lambda: setattr(owner, attr, original) if own else delattr(owner, attr)

    def accumulated(self, key: str) -> float:
        acc = self.accumulators.get(key)
        return float(acc.value) if acc is not None else 0.0

    # -- status stores ----------------------------------------------------
    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _owner(self, t_ms: float, candidates: list[int]) -> int | None:
        best = None
        for i in candidates:
            sp = self.spans[i]
            if int(sp.start_ms) <= t_ms <= sp.end_ms + 1.0:
                if best is None or (sp.depth, sp.start_ms) > (
                    self.spans[best].depth,
                    self.spans[best].start_ms,
                ):
                    best = i
        return best

    def harvest(self) -> list[dict]:
        """Attribute every job and SQL execution submitted since the last
        harvest to the spans opened since then. Returns the jobs that fell
        outside every span (the benchmark keeps those outside its ops)."""
        self._sc.listenerBus().waitUntilEmpty()
        status = self._sc.statusStore()
        jobs = [j for j in self._json(status.jobsList(None)) if j["jobId"] not in self._seen_jobs]
        stages = {}
        for s in self._json(
            status.stageList(None, False, False, getattr(status, "stageList$default$4")(), None)
        ):
            stages.setdefault(s["stageId"], s)
        candidates = list(self._pending)
        stray = []
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            self._seen_jobs.add(j["jobId"])
            j["stages"] = [stages[s] for s in j["stageIds"] if s in stages]
            owner = self._owner(j.get("submissionTime") or 0, candidates)
            if owner is None:
                stray.append(j)
            else:
                self.spans[owner].jobs.append(j)
        for e in self._json(self._sql.executionsList()):
            eid = e["executionId"]
            if eid in self._seen_execs:
                continue
            self._seen_execs.add(eid)
            owner = self._owner(e["submissionTime"], candidates)
            if owner is None:
                continue
            values = e.get("metricValues") or {}
            nodes = []
            for node in self._json(self._sql.planGraph(eid).allNodes()):
                metrics = {
                    m["name"]: metric_value(values.get(str(m["accumulatorId"]), ""))
                    for m in node.get("metrics") or []
                }
                nodes.append((node["name"], metrics))
            self.spans[owner].executions.append({"id": eid, "nodes": nodes})
        self._pending = [i for i in self._pending if self.spans[i].end_ms == float("inf")]
        return stray

    # -- per-span summaries -------------------------------------------------
    def subtree(self, root: int) -> list[int]:
        """``root`` and every span nested in it (children open later, so
        they have higher indices)."""
        out = {root}
        for i in range(root + 1, len(self.spans)):
            if self.spans[i].parent in out:
                out.add(i)
        return sorted(out)

    def summary(self, root: int) -> dict:
        """Inclusive counters of span ``root``: wall, jobs, driver gap,
        executor CPU, shuffle bytes, and the Python-node SQL metrics."""
        sp = self.spans[root]
        members = self.subtree(root)
        jobs = [j for i in members for j in self.spans[i].jobs]
        execs = [e for i in members for e in self.spans[i].executions]
        seen, cpu_ns, shuffle = set(), 0, 0
        for j in jobs:
            for s in j["stages"]:
                if s["stageId"] in seen:
                    continue
                seen.add(s["stageId"])
                cpu_ns += s.get("executorCpuTime") or 0
                shuffle += s.get("shuffleWriteBytes") or 0
        running = [
            (max(j["submissionTime"], sp.start_ms), min(j.get("completionTime") or sp.end_ms, sp.end_ms))
            for j in jobs
            if j.get("submissionTime")
        ]
        wall_ms = sp.end_ms - sp.start_ms
        return {
            "wall_s": wall_ms / 1000.0,
            "jobs": len(jobs),
            "driver_gap_s": max(0.0, wall_ms - union_ms([r for r in running if r[1] > r[0]])) / 1000.0,
            "exec_cpu_s": cpu_ns / 1e9,
            "shuffle_mb": shuffle / 2.0**20,
            "executions": execs,
        }


def node_metric(executions: list[dict], metric: str, node_names: tuple[str, ...] | None = None) -> float:
    """Sum of one SQL metric over the plan nodes with one of the names
    (over every node when no names are given)."""
    return sum(
        metrics.get(metric, 0.0)
        for e in executions
        for name, metrics in e["nodes"]
        if node_names is None or name in node_names
    )
