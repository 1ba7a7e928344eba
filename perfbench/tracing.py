"""Spans around the benchmark's calls into each layer, and Spark engine
counters attributed to them.

Each span sets the Spark job group to its own id while it is open, so
every job the engine runs belongs to the innermost open span. After
the session stops, :func:`attribute` reads the Spark event log and adds
each job's stage and task counters to the span whose id is its group.
Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "input_records",
)


@dataclass
class Span:
    span_id: str
    name: str
    layer: str
    parent: str | None
    trace_id: str
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(COUNTERS, 0)
    )

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op,
    so untraced runs pay nothing for the call sites. ``sc`` is the
    current SparkContext; while it is None (a session is starting)
    spans are timed but set no job group."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None
        self.trace_id = "setup"

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"span-{len(self.spans)}", name, layer,
                  parent.span_id if parent else None, self.trace_id,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.span_id, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None and parent is not None:
                self.sc.setJobGroup(parent.span_id, parent.name)
            elif self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cursor = 0.0, sp.start
        for c in sorted(self.children(sp), key=lambda s: s.start):
            lo, hi = max(c.start, cursor), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return sp.duration - covered

    def inclusive(self, sp: Span) -> dict[str, float]:
        out = dict(sp.counters)
        for c in self.children(sp):
            for k, v in self.inclusive(c).items():
                out[k] += v
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "span_id": s.span_id, "name": s.name, "layer": s.layer,
                    "parent": s.parent, "trace_id": s.trace_id,
                    "start": s.start, "end": s.end,
                    "duration_s": s.duration, "self_s": self.self_time(s),
                    "counters": s.counters,
                    "inclusive": self.inclusive(s),
                }) + "\n")


def attribute(tracer: Tracer, log_dir: str) -> int:
    """Add engine counters from every event log in ``log_dir`` to the
    span named by each job's group. Returns the number of jobs that ran
    outside any span."""
    by_id = {s.span_id: s for s in tracer.spans}
    stage_span: dict[tuple[str, int], Span] = {}
    unattributed = 0
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    sp = by_id.get(ev.get("Properties", {}).get("spark.jobGroup.id"))
                    if sp is None:
                        unattributed += 1
                    else:
                        sp.counters["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sp = by_id.get(ev.get("Properties", {}).get("spark.jobGroup.id"))
                    if sp is not None:
                        stage_span[(name, info["Stage ID"])] = sp
                        sp.counters["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sp = stage_span.get((name, ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if sp is None or not m:
                        continue
                    c = sp.counters
                    c["tasks"] += 1
                    c["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                    c["gc_s"] += m["JVM GC Time"] / 1e3
                    r = m["Shuffle Read Metrics"]
                    c["shuffle_read_bytes"] += (
                        r["Remote Bytes Read"] + r["Local Bytes Read"]
                    )
                    c["shuffle_write_bytes"] += (
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    )
                    c["spill_bytes"] += m["Disk Bytes Spilled"]
                    c["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                    c["input_records"] += m["Input Metrics"]["Records Read"]
    return unattributed
