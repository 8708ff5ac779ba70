"""Spans and Spark counters recorded from outside the program.

The traced run wraps the benchmark's calls into the public entry points:
each request gets a root span with ``build`` (the API call that returns a
lazy DataFrame), ``plan`` (``executedPlan`` forced) and ``exec`` (the
collect) children.  Spark counts per request come from the job group via
``statusTracker`` and from the executed plan's SQL metrics.  Spans stay in
memory and are written out once, at exit.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    rid: int
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


@dataclass
class RequestTrace:
    rid: int
    kind: str                   # "query" | "meta" | "commit"
    group: str
    rows_out: int = 0
    plan: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)


#: (node-name test, SQL metric key, summary key) read from executed plans
_PLAN_METRICS = (
    (lambda n: "Scan" in n, "numFiles", "files"),
    (lambda n: "Scan" in n, "numOutputRows", "rows_scanned"),
    (lambda n: "Exchange" in n, "shuffleBytesWritten", "shuffle_bytes"),
)


def plan_metrics(df) -> dict:
    """Sum the SQL metrics of an executed plan: files and rows read by the
    scans, shuffle bytes written by the exchanges.  Walks through adaptive
    query stages to the plan that actually ran."""
    out = {"files": 0, "rows_scanned": 0, "shuffle_bytes": 0}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        for wanted, key, into in _PLAN_METRICS:
            if wanted(name):
                m = node.metrics().get(key)
                if m.isDefined():
                    out[into] += m.get().value()
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return out


class Tracer:
    """Collects spans and per-request Spark counts for one traced run.
    Bookkeeping done after a request's reply (plan walks, status-tracker
    reads) is timed separately as the tracing overhead."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.requests: list[RequestTrace] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._next_rid = 0
        self._gc_beans = spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()

    def gc_ms(self) -> float:
        """Total JVM garbage-collection time so far."""
        beans = self._gc_beans
        return float(sum(beans.get(i).getCollectionTime()
                         for i in range(beans.size())))

    @contextmanager
    def span(self, name: str):
        rid = self.requests[-1].rid if self.requests else -1
        parent = self._stack[-1].name if self._stack else None
        s = Span(rid, name, parent, time.perf_counter())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def reset(self) -> None:
        """Forget what was recorded so far (the warm-up); request ids and
        job groups keep counting up, so no group is reused."""
        self.spans.clear()
        self.requests.clear()
        self.overhead_s = 0.0

    def begin(self, kind: str) -> RequestTrace:
        rid = self._next_rid
        self._next_rid += 1
        rq = RequestTrace(rid, kind, f"perfbench-{rid}")
        self.requests.append(rq)
        self.sc.setJobGroup(rq.group, kind)
        return rq

    def after(self, rq: RequestTrace, df, rows_out: int) -> None:
        t = time.perf_counter()
        rq.rows_out = rows_out
        if df is not None:
            rq.plan = plan_metrics(df)
        self.overhead_s += time.perf_counter() - t

    def resolve_counts(self) -> None:
        """Jobs, stages and tasks per request, read once at the end: the
        status store is fed asynchronously by the listener bus."""
        t = time.perf_counter()
        st = self.sc.statusTracker()
        for rq in self.requests:
            jobs = st.getJobIdsForGroup(rq.group)
            stages = tasks = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
            rq.counts = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
        self.overhead_s += time.perf_counter() - t

    # -- summaries -----------------------------------------------------------

    def self_ms(self, span: Span) -> float:
        kids = [s for s in self.spans
                if s.rid == span.rid and s.parent == span.name
                and s.start >= span.start and s.end <= span.end]
        return span.ms - sum(k.ms for k in kids)

    def median_ms(self, name: str, self_time: bool = False) -> float:
        vals = [self.self_ms(s) if self_time else s.ms
                for s in self.spans if s.name == name]
        return statistics.median(vals) if vals else float("nan")

    def dump(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                "summary": summary,
                "requests": [vars(rq) for rq in self.requests],
                "spans": [{**vars(s), "ms": s.ms, "self_ms": self.self_ms(s)}
                          for s in self.spans],
            }, f, indent=1, default=str)
