"""Spans around the calls into mtslake, and their Spark-side metrics.

``Tracer.span`` times one public call from the outside. With tracing
on it also tags every Spark job the call starts with a job group named
after the span, so Spark's event log (enabled only for the traced run)
attributes task metrics and SQL plan metrics to that call. Spans are
kept in memory and written out once, at exit.

``EventLog`` parses a finished (uncompressed, non-rolling) event log
into per-span sums: task metrics from ``SparkListenerTaskEnd``, SQL
plan metrics (per plan node, e.g. MapInArrow's ``time to run Python
workers``) from task and driver accumulator updates, and SQL execution
wall times.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    op_id: int | None
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``jobs=True`` also tags Spark jobs.

    The untraced run uses the same spans for its wall times (two
    monotonic reads per call) but never touches Spark's job groups."""

    def __init__(self, sc=None, jobs: bool = False):
        self.sc = sc
        self.jobs = jobs
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        self._n += 1
        sp = Span(f"s{self._n}", name, op_id,
                  parent.span_id if parent else None, time.monotonic())
        self._stack.append(sp)
        if self.jobs:
            self.sc.setJobGroup(sp.span_id, name)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            self.spans.append(sp)
            if self.jobs:
                if parent is not None:
                    self.sc.setJobGroup(parent.span_id, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def descendants(self, root: Span) -> set[str]:
        """Ids of ``root`` and every span nested under it."""
        kids = defaultdict(list)
        for s in self.spans:
            kids[s.parent].append(s.span_id)
        out, todo = set(), [root.span_id]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(kids.get(sid, ()))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# -- event log ---------------------------------------------------------


@dataclass
class NodeMetric:
    exec_id: int
    node: str          # plan node name, e.g. "MapInArrow"
    desc: str          # the node's simpleString
    metric: str        # e.g. "time to run Python workers"
    ancestors: tuple   # simpleStrings of the enclosing plan nodes


@dataclass
class SpanStats:
    """Sums over every Spark job tagged with one span."""
    tasks: int = 0
    task_retries: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    output_bytes: float = 0.0
    sql_exec_ms: dict = field(default_factory=dict)  # exec id -> wall ms


class EventLog:
    def __init__(self, path: str):
        self.stage_group: dict[int, str] = {}
        self.exec_group: dict[int, str] = {}
        self.accum: dict[int, NodeMetric] = {}
        self.values: dict[int, float] = defaultdict(float)
        self.stats: dict[str, SpanStats] = defaultdict(SpanStats)
        exec_start: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                handler = getattr(self, "_on_" + kind, None)
                if handler is not None:
                    handler(e)
                if kind == "SparkListenerSQLExecutionStart":
                    exec_start[e["executionId"]] = e["time"]
                elif kind == "SparkListenerSQLExecutionEnd":
                    eid = e["executionId"]
                    grp = self.exec_group.get(eid)
                    if grp is not None and eid in exec_start:
                        self.stats[grp].sql_exec_ms[eid] = (
                            e["time"] - exec_start[eid])

    # job group of a job: its properties (set by Tracer.span)
    def _on_SparkListenerJobStart(self, e):
        grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
        if grp is None:
            return
        for sid in e.get("Stage IDs", []):
            self.stage_group.setdefault(sid, grp)
        eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
        if eid is not None:
            self.exec_group.setdefault(int(eid), grp)

    def _walk_plan(self, eid: int, info: dict, ancestors: tuple = ()):
        for m in info.get("metrics", []):
            self.accum[m["accumulatorId"]] = NodeMetric(
                eid, info["nodeName"], info.get("simpleString", ""),
                m["name"], ancestors)
        for c in info.get("children", []):
            self._walk_plan(eid, c,
                            ancestors + (info.get("simpleString", ""),))

    def _on_SparkListenerSQLExecutionStart(self, e):
        eid = e["executionId"]
        if e.get("jobGroupId"):
            self.exec_group.setdefault(eid, e["jobGroupId"])
        self._walk_plan(eid, e["sparkPlanInfo"])

    def _on_SparkListenerSQLAdaptiveExecutionUpdate(self, e):
        self._walk_plan(e["executionId"], e["sparkPlanInfo"])

    def _on_SparkListenerSQLAdaptiveSQLMetricUpdates(self, e):
        for m in e.get("sqlPlanMetrics", []):
            self.accum.setdefault(m["accumulatorId"], NodeMetric(
                e["executionId"], "", "", m["name"], ()))

    def _on_SparkListenerDriverAccumUpdates(self, e):
        for aid, v in e.get("accumUpdates", []):
            self.values[aid] += float(v)

    def _on_SparkListenerTaskEnd(self, e):
        info = e.get("Task Info", {})
        for a in info.get("Accumulables", []):
            if a.get("Metadata") == "sql":
                try:
                    self.values[a["ID"]] += float(a["Update"])
                except (TypeError, ValueError):
                    pass
        grp = self.stage_group.get(e.get("Stage ID"))
        if grp is None:
            return
        st = self.stats[grp]
        st.tasks += 1
        if info.get("Attempt", 0) > 0 or info.get("Failed"):
            st.task_retries += 1
        m = e.get("Task Metrics") or {}
        st.run_ms += m.get("Executor Run Time", 0)
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.gc_ms += m.get("JVM GC Time", 0)
        st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0))
        st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        st.output_bytes += (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0)

    # -- queries ---------------------------------------------------------

    def node_sum(self, groups: set[str], node: str, metric: str,
                 where=lambda nm: True) -> float:
        """Sum of one SQL plan metric over the plan nodes named ``node``
        in executions tagged with any of ``groups``."""
        total = 0.0
        for aid, nm in self.accum.items():
            if (nm.metric == metric and nm.node.startswith(node)
                    and self.exec_group.get(nm.exec_id) in groups
                    and where(nm)):
                total += self.values.get(aid, 0.0)
        return total

    def span_stats(self, groups: set[str]) -> SpanStats:
        out = SpanStats()
        for g in groups:
            s = self.stats.get(g)
            if s is None:
                continue
            out.tasks += s.tasks
            out.task_retries += s.task_retries
            out.run_ms += s.run_ms
            out.cpu_ns += s.cpu_ns
            out.gc_ms += s.gc_ms
            out.shuffle_write_bytes += s.shuffle_write_bytes
            out.spill_bytes += s.spill_bytes
            out.output_bytes += s.output_bytes
            out.sql_exec_ms.update(s.sql_exec_ms)
        return out
