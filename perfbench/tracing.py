"""Client-side tracing for the benchmark's traced run.

Spans are recorded around every public call the benchmark makes and
around every action it triggers. Each span tags the Spark jobs it
launches with ``SparkContext.setJobGroup(span_id, name)``, so the
executor-side counters of those jobs can be read back from the Spark
event log after the session stops. Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    start: float
    end: float
    rep: int
    jobs: int  # jobs the status tracker saw in this span's group
    self_s: float = 0.0
    counters: dict = field(default_factory=dict)


class Tracer:
    """Records nested spans; one job group per span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[tuple[str, str]] = []
        self._opened = 0
        self.rep = 0  # sample number, set by the caller

    @contextmanager
    def span(self, name: str):
        span_id = f"pb{self._opened}"
        self._opened += 1
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((span_id, name))
        self.sc.setJobGroup(span_id, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            jobs = len(self.sc.statusTracker().getJobIdsForGroup(span_id))
            if self._stack:
                self.sc.setJobGroup(self._stack[-1][0], self._stack[-1][1])
            else:
                self.sc.setLocalProperty(JOB_GROUP, None)
            self.spans.append(Span(span_id, name, parent, start, end, self.rep, jobs))

    def finish(self, counters_by_group: dict[str, dict]) -> None:
        """Attach event-log counters and compute each span's self time:
        its duration minus the part of it that its child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            s.counters = counters_by_group.get(s.span_id, {})
            if s.parent:
                children[s.parent].append((s.start, s.end))
        for s in self.spans:
            s.self_s = (s.end - s.start) - covered(children.get(s.span_id, []))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
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


COUNTERS = ("tasks", "executor_cpu_s", "shuffle_write_mb", "spill_mb", "gc_s")


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group, sum the TaskEnd counters of every stage submitted
    under it. Needs uncompressed, non-rolling logs of stopped sessions."""
    stage_group: dict[tuple[str, int], str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    seen = 0
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path) or name.endswith(".inprogress"):
            continue
        with open(path, errors="replace") as fh:
            for line in fh:
                if '"SparkListenerStageSubmitted"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get(JOB_GROUP)
                    if group:
                        stage_group[(name, ev["Stage Info"]["Stage ID"])] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    seen += 1
                    group = stage_group.get((name, ev["Stage ID"]))
                    if group is None:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    c = out[group]
                    c["tasks"] += 1
                    c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    c["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
                    c["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
    if seen == 0:
        raise RuntimeError(f"no TaskEnd events under {log_dir}: the event log is missing or unreadable")
    return dict(out)


def median_or_zero(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def span_metrics(tracer: Tracer, name: str) -> dict[str, float]:
    """Per-rep medians for one public call: plan span ``name`` and the
    action span ``name + '.exec'`` that materializes its result. Counters
    cover the jobs of both spans. A call the workload never makes reads 0."""
    per_rep: dict[int, dict] = defaultdict(lambda: {"plan_ms": 0.0, "plan_jobs": 0, "exec_s": 0.0,
                                                    **dict.fromkeys(COUNTERS, 0.0)})
    for s in tracer.spans:
        if s.name not in (name, name + ".exec"):
            continue
        r = per_rep[s.rep]
        if s.name == name:
            r["plan_ms"] += (s.end - s.start) * 1e3
            r["plan_jobs"] += s.jobs
        else:
            r["exec_s"] += s.end - s.start
        for c in COUNTERS:
            r[c] += s.counters.get(c, 0.0)
    keys = ("plan_ms", "plan_jobs", "exec_s") + COUNTERS
    return {f"{name}.{k}": median_or_zero(r[k] for r in per_rep.values()) for k in keys}
