"""Span recorder and Spark status-store readers for the traced run.

Spans are recorded from the benchmark's side of each layer boundary (the
program itself is not instrumented): name, start, end, parent and run id,
kept in memory and written out once when the benchmark ends. Each span
also tags the Spark jobs it launches with a job group named after the
span, so the layer's counts can be read back from Spark's own status
store (stage and SQL metrics) after the call returns.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    run_id: int
    parent: int | None
    start: float
    end: float = 0.0
    sql_offset: int = 0  # SQL executions that existed before the span

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store. ``span`` is a context manager that records
    one span and routes the Spark jobs started inside it to a job group
    named ``<name>#<span_id>``."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, run_id: int):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, run_id, parent, 0.0)
        self.spans.append(s)
        self._stack.append(s.span_id)
        sc.setJobGroup(self.group(s), name)
        s.sql_offset = self.spark._jsparkSession.sharedState().statusStore().executionsCount()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                sc.setJobGroup("", "")
            else:
                sc.setJobGroup(self.group(self.spans[parent]), self.spans[parent].name)

    @staticmethod
    def group(s: Span) -> str:
        return f"{s.name}#{s.span_id}"

    def self_time(self, s: Span) -> float:
        """Duration minus the union of the intervals its children cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.span_id)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return s.duration - covered

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["start"] -= t0
            d["end"] -= t0
            d["duration"] = s.duration
            d["self"] = self.self_time(s)
            rows.append(d)
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f, indent=1)


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _number(text: str) -> float:
    """Value of a Spark SQL metric string: ``"1,234"``, ``"4.3 MiB"`` or
    the multi-line ``"total (min, med, max ...)\\n4.3 MiB (...)"`` form."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


@dataclass
class GroupMetrics:
    """Counts for the Spark jobs of one job group: stage totals plus the
    SQL plan nodes of every execution those jobs belong to."""

    stages: dict
    nodes: list  # (node name, {metric name: value})

    def node_sum(self, prefix: str, metric: str) -> float:
        return sum(v.get(metric, 0.0) for n, v in self.nodes if n.startswith(prefix))


_STAGE_FIELDS = (
    "shuffleWriteRecords",
    "shuffleWriteBytes",
    "diskBytesSpilled",
    "outputBytes",
    "executorCpuTime",
)


def stage_totals(spark, group: str) -> dict:
    """Sums of the stage metrics in _STAGE_FIELDS over the jobs of one job
    group (executorCpuTime in nanoseconds)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    totals = dict.fromkeys(_STAGE_FIELDS, 0)
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
            for k in _STAGE_FIELDS:
                totals[k] += getattr(sd, k)()
    return totals


def group_metrics(spark, s: Span) -> GroupMetrics:
    """Stage and SQL metrics of the jobs span ``s`` launched."""
    group = Tracer.group(s)
    job_ids = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    sql = spark._jsparkSession.sharedState().statusStore()
    nodes = []
    for e in conv.asJava(sql.executionsList(s.sql_offset, 1 << 30)):
        if not job_ids & {int(j) for j in conv.asJava(e.jobs()).keySet()}:
            continue
        values = conv.asJava(sql.executionMetrics(e.executionId()))
        for n in conv.asJava(sql.planGraph(e.executionId()).allNodes()):
            nodes.append(
                (
                    n.name(),
                    {
                        pm.name(): _number(values.get(pm.accumulatorId()) or "0")
                        for pm in conv.asJava(n.metrics())
                    },
                )
            )
    return GroupMetrics(stage_totals(spark, group), nodes)
