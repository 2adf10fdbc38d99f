"""Measurement from outside the engine: Spark counters, spans, the JVM's RSS.

Counters are read from Spark's own status store at call and pass
boundaries, never from inside the program under test.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

#: per-stage totals summed over a job group's stages (StageData getters)
_FIELDS = {
    "tasks": "numCompleteTasks",
    "task_ms": "executorRunTime",
    "shuffle_write": "shuffleWriteBytes",
}


class Counters:
    """Task counters of a live SparkContext, per job group.

    Every measured unit (a pass, or one call in a traced pass) runs under its
    own job group; :meth:`stats` sums Spark's per-stage records over the
    group's jobs. It first drains the listener bus, so every task that
    returned to the driver is counted."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._tracker = self._sc.statusTracker()

    def set_group(self, group: str, description: str) -> None:
        self._sc.setJobGroup(group, description)

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def stats(self, group: str) -> dict:
        self._bus.waitUntilEmpty()
        jobs = self._tracker.getJobIdsForGroup(group)
        tot = dict.fromkeys(_FIELDS, 0)
        tot["jobs"] = len(jobs)
        stages = set()
        for job in jobs:
            info = self._tracker.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
        for stage in stages:
            attempts = self._store.stageData(stage, False, None, False, None)
            for i in range(attempts.size()):
                data = attempts.apply(i)
                for key, getter in _FIELDS.items():
                    tot[key] += int(getattr(data, getter)())
        return tot


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (local mode: the only executor), in MiB."""
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counters: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans for one run: one per pass, one per call.

    Each call span carries the Spark counter delta and job count measured at
    its own boundaries. ``dump`` writes everything once, at exit."""

    def __init__(self, counters: Counters, run_id: str):
        self.counters = counters
        self.run_id = run_id
        self.spans: list[Span] = []
        self._seq = 0

    def begin_pass(self) -> int:
        self.spans.append(Span("pass", time.perf_counter(), 0.0, None, self.run_id))
        return len(self.spans) - 1

    def end_pass(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()

    def call(self, name: str, parent: int, fn):
        """Run ``fn`` under its own job group; record its span; return its value."""
        self._seq += 1
        group = f"{self.run_id}-call{self._seq}"
        self.counters.set_group(group, name)
        start = time.perf_counter()
        try:
            return fn()
        finally:
            end = time.perf_counter()
            self.counters.clear_group()
            span = Span(name, start, end, parent, self.run_id)
            span.counters = self.counters.stats(group)
            self.spans.append(span)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)

    def per_call(self, cores: int) -> dict:
        """Six metrics per call name, medians over passes."""
        by_name: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                by_name.setdefault(s.name, []).append(s)
        out = {}
        for name, spans in by_name.items():
            secs = statistics.median(s.end - s.start for s in spans)
            task_s = statistics.median(s.counters["task_ms"] / 1000.0 for s in spans)
            out[f"{name}.s"] = (secs, "s")
            out[f"{name}.jobs"] = (
                statistics.median(s.counters["jobs"] for s in spans), "count"
            )
            out[f"{name}.tasks"] = (
                statistics.median(s.counters["tasks"] for s in spans), "count"
            )
            out[f"{name}.task_s"] = (task_s, "s")
            out[f"{name}.shuffle_mb"] = (
                statistics.median(s.counters["shuffle_write"] for s in spans) / 2**20,
                "MB",
            )
            out[f"{name}.util"] = (task_s / (secs * cores) if secs > 0 else 0.0, "ratio")
        return out

    def unattributed_s(self) -> float:
        """Median over passes of pass wall time not covered by a call span."""
        gaps = []
        for i, s in enumerate(self.spans):
            if s.parent is None and s.name == "pass":
                covered = sum(c.end - c.start for c in self.spans if c.parent == i)
                gaps.append((s.end - s.start) - covered)
        return statistics.median(gaps)
