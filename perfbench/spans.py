"""Spans and Spark counters recorded from outside the program.

A :class:`Tracer` records a span (name, start, end, parent) around each
call into a layer and can tag the Spark jobs the call starts with a job
group, so the status stores attribute stages, tasks and bytes to the
span (:class:`SparkCounters`). Only traced runs create one; untraced
runs call the program directly.
"""

from __future__ import annotations

import contextlib
import functools
import re
import statistics
import time
from collections import defaultdict

_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_TIMING_RE = re.compile(r"([\d.,]+)\s*(ms|min|s|m|h)\b")


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._groups: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Time one call into a layer. ``group`` tags the Spark jobs it
        starts; the enclosing group is restored on exit."""
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None, "group": group, "child_s": 0.0}
        if group is not None:
            self._sc.setJobGroup(group, name)
            self._groups.append(group)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._groups.pop()
                if self._groups:
                    self._sc.setJobGroup(self._groups[-1], "")
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            dur = rec["end"] - rec["start"]
            rec["self_s"] = dur - rec["child_s"]
            if rec["parent"] is not None:
                rec["parent"]["child_s"] += dur
            self.spans.append(rec)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def take(self) -> list[dict]:
        """Return and forget the spans recorded so far."""
        out, self.spans = self.spans, []
        return out


def percentile(samples: list[float], q: int) -> float:
    """The q-th percentile (inclusive method) of ``samples``."""
    if len(samples) == 1:
        return samples[0]
    return statistics.quantiles(samples, n=100, method="inclusive")[q - 1]


def self_times(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += s["self_s"]
    return out


def counts(spans: list[dict]) -> dict[str, int]:
    out: dict[str, int] = defaultdict(int)
    for s in spans:
        out[s["name"]] += 1
    return out


class SparkCounters:
    """Reads per-job-group execution counters from Spark's status stores.

    Works with ``spark.ui.enabled=false``: the stores are populated by
    listeners whatever the UI setting, so the caller drains the listener
    bus (:meth:`drain`) before reading.
    """

    STAGE_FIELDS = (
        "stages",
        "tasks",
        "failed_tasks",
        "executor_run_s",
        "executor_cpu_s",
        "input_bytes",
        "shuffle_read_bytes",
        "shuffle_write_bytes",
        "spill_bytes",
    )

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = self._sql.executionsCount()

    def drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, groups) -> dict[str, float]:
        """Jobs, stages (run, not skipped), tasks and stage metrics of
        every job started under one of ``groups``."""
        tracker = self._sc.statusTracker()
        out = dict.fromkeys(("jobs",) + self.STAGE_FIELDS, 0.0)
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                out["jobs"] += 1
                for sid in info.stageIds:
                    sd = self._store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numTasks()
                    out["failed_tasks"] += sd.numFailedTasks()
                    out["executor_run_s"] += sd.executorRunTime() / 1e3
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["input_bytes"] += sd.inputBytes()
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def skip_sql_executions(self) -> None:
        """Leave the SQL executions so far out of the next
        :meth:`broadcast_collect_s`."""
        self._sql_seen = self._sql.executionsCount()

    def broadcast_collect_s(self) -> float:
        """Sum of BroadcastExchange "time to collect" over the SQL
        executions finished since the previous call."""
        n = self._sql.executionsCount()
        total = 0.0
        if n > self._sql_seen:
            it = self._sql.executionsList(int(self._sql_seen), int(n - self._sql_seen)).iterator()
            while it.hasNext():
                eid = it.next().executionId()
                values = self._sql.executionMetrics(eid)
                nodes = self._sql.planGraph(eid).allNodes().iterator()
                while nodes.hasNext():
                    node = nodes.next()
                    if node.name() != "BroadcastExchange":
                        continue
                    metrics = node.metrics().iterator()
                    while metrics.hasNext():
                        m = metrics.next()
                        if m.name() == "time to collect":
                            v = values.get(m.accumulatorId())
                            if v.isDefined():
                                total += parse_timing(v.get())
        self._sql_seen = n
        return total

    def storage(self) -> tuple[int, int]:
        """(cached RDDs with at least one stored partition, bytes held)."""
        n = size = 0
        for info in self._sc._jsc.sc().getRDDStorageInfo():
            if info.numCachedPartitions() > 0:
                n += 1
                size += info.memSize() + info.diskSize()
        return n, size


def parse_timing(text: str) -> float:
    """Seconds from a SQL timing metric string such as ``"94 ms"``, or
    the total of a per-task ``"total (min, med, max ...)\\n1.2 s (...)"``."""
    lines = text.strip().splitlines()
    m = _TIMING_RE.search(lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]
