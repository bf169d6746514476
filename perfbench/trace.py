"""Spans around the program's public calls, and what Spark recorded for
each call.

The benchmark adds no tracing inside the package.  A span times one
public call from outside.  In a traced run each call span also gets its
own Spark job group, and after the call the tracer reads Spark's own
status stores:

* the jobs of the group (interval, stages, tasks) and the stage
  metrics of those jobs (executor run and CPU time, GC, input, shuffle,
  spill) from ``SparkContext.statusStore``;
* the SQL plan-node metrics of the executions that ran those jobs
  (rows, files and bytes of each scan, join output rows, Python worker
  time and Arrow bytes) from the SQL status store;
* the Catalyst phase times of every query the call executed, from a
  ``QueryExecutionListener`` that records while a traced call runs.

An untraced run records the same spans with timing only, so the two can
be compared for the tracing overhead.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_STAGE_FIELDS = {
    "exec.run_ms": "executorRunTime",
    "exec.cpu_ns": "executorCpuTime",
    "exec.gc_ms": "jvmGcTime",
    "exec.input_bytes": "inputBytes",
    "exec.shuffle_read_bytes": "shuffleReadBytes",
    "exec.shuffle_write_bytes": "shuffleWriteBytes",
    "exec.spill_mem_bytes": "memoryBytesSpilled",
    "exec.spill_disk_bytes": "diskBytesSpilled",
}

_PHASES = ("analysis", "optimization", "planning")

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_QUANTITY = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*),(\d+),(\w+)\)$")


def metric_value(text: str) -> float:
    """Numeric value of a formatted SQL metric: a count (``5,546``), a
    size (``1392.9 KiB``, in bytes) or a duration (``1.0 s``, in ms).
    Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is taken."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _QUANTITY.search(text)
    if not m:
        raise ValueError(f"unparsable metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


@dataclass
class PlanNode:
    name: str
    desc: str
    metrics: dict[str, float]


@dataclass
class Span:
    """One timed region.  ``call`` spans wrap one public call; their
    ``spark`` dict holds what the status stores recorded for it."""

    name: str
    span_id: int
    parent: int | None
    run_id: str
    traced: bool
    start: float = 0.0
    end: float = 0.0
    jobs: list[tuple[float, float]] = field(default_factory=list)
    spark: dict[str, float] = field(default_factory=dict)
    nodes: list[PlanNode] = field(default_factory=list)
    actions: list[str] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def to_json(self, self_s: float) -> dict:
        return {
            "name": self.name, "id": self.span_id, "parent": self.parent,
            "run_id": self.run_id, "start": self.start, "end": self.end,
            "self_s": self_s, "traced": self.traced, "jobs": len(self.jobs),
            "spark": self.spark, "actions": self.actions,
        }


class _PhaseListener:
    """``QueryExecutionListener`` implemented in Python through the
    py4j callback server: records each executed query's action name and
    Catalyst phase durations."""

    def __init__(self):
        self.events: list[tuple[str, dict[str, float]]] = []
        self.active = False

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        if not self.active:
            return
        phases = qe.tracker().phases()
        got = {}
        for name in _PHASES:
            opt = phases.get(name)
            got[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        self.events.append((func_name, got))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java API
        if self.active:
            self.events.append((func_name, {}))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Records spans; with ``traced`` also reads Spark's status stores
    after every call span."""

    def __init__(self, spark, run_id: str, traced: bool):
        self.spark = spark
        self.run_id = run_id
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._listener = None
        if traced:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(spark.sparkContext._gateway)
            # registered once: each register() makes a new Java proxy,
            # which unregister() does not match
            self._listener = _PhaseListener()
            spark._jsparkSession.listenerManager().register(self._listener)
            self._sql_seen = self._sql_store().executionsCount()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _flush(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    @contextmanager
    def span(self, name: str, call: bool = False, traced: bool | None = None):
        """Time a region.  ``call=True`` marks one public call; it is
        traced when the tracer is and ``traced`` is not False."""
        traced = self.traced and call and traced is not False
        sp = Span(
            name=name,
            span_id=len(self.spans),
            parent=self._stack[-1].span_id if self._stack else None,
            run_id=self.run_id,
            traced=traced,
        )
        self.spans.append(sp)
        sc = self.spark.sparkContext
        group = f"{self.run_id}-{sp.span_id}"
        if traced:
            self._flush()
            self._listener.events.clear()
            self._listener.active = True
            sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp.start = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = sp.start + (time.perf_counter() - t0)
            self._stack.pop()
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self._flush()
                self._listener.active = False
                self._read(sp, group)

    # ------------------------------------------------------------ reads
    def _read(self, sp: Span, group: str) -> None:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        agg = {"sched.jobs": 0.0, "sched.stages": 0.0, "sched.tasks": 0.0}
        for jid in job_ids:
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                sp.jobs.append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
            agg["sched.jobs"] += 1
            agg["sched.stages"] += jd.numCompletedStages()
            agg["sched.tasks"] += jd.numCompletedTasks()
            stage_ids.update(jd.stageIds().mkString(",").split(","))
        for key in _STAGE_FIELDS:
            agg[key] = 0.0
        for sid in sorted(int(s) for s in stage_ids if s):
            attempts = store.stageData(sid, False, None, False, None)
            it = attempts.iterator()
            while it.hasNext():
                sd = it.next()
                if sd.status().toString() != "COMPLETE":
                    continue
                for key, attr in _STAGE_FIELDS.items():
                    agg[key] += float(getattr(sd, attr)())
        for phase in _PHASES:
            agg[f"catalyst.{phase}_ms"] = sum(
                ev.get(phase, 0.0) for _, ev in self._listener.events
            )
        sp.actions = [name for name, _ in self._listener.events]
        sp.spark = agg
        sp.nodes = self._plan_nodes(set(job_ids))

    def _plan_nodes(self, job_ids: set[int]) -> list[PlanNode]:
        """Plan nodes (with metric values) of the SQL executions, started
        since the last read, that ran any of ``job_ids``."""
        sql = self._sql_store()
        count = sql.executionsCount()
        nodes: list[PlanNode] = []
        if count <= self._sql_seen:
            return nodes
        fresh = sql.executionsList(self._sql_seen, count - self._sql_seen)
        self._sql_seen = count
        it = fresh.iterator()
        while it.hasNext():
            ex = it.next()
            ran = {int(j) for j in ex.jobs().keys().mkString(",").split(",") if j}
            if not ran & job_ids:
                continue
            eid = ex.executionId()
            values = {}
            for entry in sql.executionMetrics(eid).mkString("\x01").split("\x01"):
                if " -> " in entry:
                    acc, val = entry.split(" -> ", 1)
                    values[int(acc)] = val
            graph = sql.planGraph(eid).allNodes().iterator()
            while graph.hasNext():
                node = graph.next()
                metrics = {}
                listed = node.metrics().mkString("\x01")
                for m in listed.split("\x01") if listed else []:
                    parsed = _PLAN_METRIC.match(m)
                    if parsed and int(parsed.group(2)) in values:
                        try:
                            metrics[parsed.group(1)] = metric_value(values[int(parsed.group(2))])
                        except ValueError:  # a metric no layer reads, e.g. empty
                            continue
                nodes.append(PlanNode(node.name(), node.desc(), metrics))
        return nodes


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it that its child spans, or
    for a call its Spark jobs, cover."""
    intervals = span.jobs + [(c.start, c.end) for c in children]
    return span.wall_s - covered_s(intervals, span.start, span.end)


def spans_json(spans: list[Span]) -> list[dict]:
    """The spans as JSON records, each with its self time."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    return [sp.to_json(self_time(sp, children.get(sp.span_id, []))) for sp in spans]
