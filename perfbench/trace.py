"""Tracing for the per-layer run: spans around calls into the program's
public functions, and Spark's own accounting read after each op.

Spans are ``[name, start, end, parent, op]`` lists kept in memory and
written out once at the end of the run.  A span's self time is its
duration minus the time its child spans cover; the harness is single
threaded, so children nest strictly inside their parent and never overlap.

``SparkProbe`` reads two sources Spark keeps anyway:

- the status tracker, per job group (one group per op): jobs and tasks;
- the SQL status store: every executed plan's SQL metrics (scan time,
  codegen pipeline duration, shuffle write time/bytes, broadcast collect
  time, Python worker boot/init/run time and bytes sent), summed over tasks.
"""

from __future__ import annotations

import functools
import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metric display name -> per-layer metric it feeds
SQL_METRICS = {
    "scan time": "spark.scan_ms",
    "duration": "spark.pipeline_ms",
    "shuffle write time": "spark.shuffle_write_ms",
    "shuffle bytes written": "spark.shuffle_bytes",
    "time to collect": "spark.broadcast_collect_ms",
    "time to start Python workers": "arrow.python_boot_ms",
    "time to initialize Python workers": "arrow.python_init_ms",
    "time to run Python workers": "arrow.python_exec_ms",
    "data sent to Python workers": "arrow.bytes_sent",
}

_UNIT = {
    "ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``"1,234"``, ``"6 ms"``, or the
    per-task form ``"total (min, med, max ...)\\n1.4 s (...)"``."""
    m = _VALUE.match(text.splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.enabled = False
        self.op: str | None = None
        self.counts: dict[tuple[str, str], float] = defaultdict(float)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> int:
        self.spans.append(
            [name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self.op]
        )
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[(self.op, name)] += value

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned version; ``after(tracer,
        args, kwargs, result)`` records counts at the same boundary."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            idx = tracer.begin(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.end(idx)
            if after is not None:
                after(tracer, args, kwargs, out)
            return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    @property
    def wrapped(self) -> bool:
        return bool(self._patches)

    def self_ms(self, ops: set[str]) -> dict[str, float]:
        """Summed self time per span name over the given ops."""
        covered = defaultdict(float)
        for s in self.spans:
            if s[3] is not None:
                covered[s[3]] += s[2] - s[1]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s[4] in ops:
                out[s[0]] += (s[2] - s[1] - covered[i]) * 1000.0
        return out

    def total_ms(self, ops: set[str]) -> dict[str, float]:
        """Summed wall time per span name over the given ops."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s[4] in ops:
                out[s[0]] += (s[2] - s[1]) * 1000.0
        return out

    def counts_for(self, ops: set[str]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for (op, name), v in self.counts.items():
            if op in ops:
                out[name] += v
        return out

    def dump(self, path: str) -> None:
        keys = ("name", "start", "end", "parent", "op")
        with open(path, "w") as f:
            json.dump({"spans": [dict(zip(keys, s)) for s in self.spans]}, f)


class SparkProbe:
    """Per-op Spark accounting: call ``begin(op)`` before an op and
    ``collect()`` after it."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.bus = sc._jsc.sc().listenerBus()
        self.group: str | None = None
        self.last_exec = self._max_exec_id()

    def _max_exec_id(self) -> int:
        self.bus.waitUntilEmpty()
        n = self.store.executionsCount()
        if n == 0:
            return -1
        tail = self.conv.asJava(self.store.executionsList(max(0, n - 1), 1))
        return max(e.executionId() for e in tail)

    def begin(self, op: str) -> None:
        self.group = f"perfbench-{op}"
        self.sc.setJobGroup(self.group, op)

    def skip(self) -> None:
        """Forget executions run since the last collect (harness probes)."""
        self.last_exec = self._max_exec_id()

    def collect(self) -> dict[str, float]:
        self.bus.waitUntilEmpty()
        out: dict[str, float] = defaultdict(float)
        jobs = self.tracker.getJobIdsForGroup(self.group)
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        out["spark.jobs_per_op"] = float(len(jobs))
        for s in stages:
            st = self.tracker.getStageInfo(s)
            if st is not None:
                out["spark.tasks_per_op"] += st.numCompletedTasks
        n = self.store.executionsCount()
        recent = self.conv.asJava(self.store.executionsList(max(0, n - 64), 64))
        newest = self.last_exec
        for e in recent:
            eid = e.executionId()
            if eid <= self.last_exec:
                continue
            newest = max(newest, eid)
            values = self.conv.asJava(self.store.executionMetrics(eid))
            seen = set()
            for m in self.conv.asJava(e.metrics()):
                name = SQL_METRICS.get(m.name())
                acc = m.accumulatorId()
                if name is None or acc in seen:
                    continue
                seen.add(acc)
                text = values.get(acc)
                if text:
                    out[name] += parse_metric(text)
        self.last_exec = newest
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out
