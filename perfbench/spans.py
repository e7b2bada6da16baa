"""Spans, self time, the tail-percentile rule and the Spark event-log
roll-up.

Spans are recorded by the benchmark around each call it makes into a
layer, kept in memory and written out once at exit. A layer's self
time is its spans' durations minus the part of each interval its child
spans cover. Spark jobs are attributed to layers through the job group
the benchmark sets before each call (``SparkContext.setJobGroup``);
the event log, enabled only in traced runs, carries each job's group
in its properties and each task's counters.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field

# Event-log counters rolled up per layer, in output order.
COUNTERS = ("tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes", "executor_cpu_s", "gc_s")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    span_id: int


@dataclass
class Tracer:
    """In-memory span recorder. ``active`` marks a traced run;
    ``enabled`` (toggled per step) makes span() record and set the
    job group. Disabled, span() is a plain context manager, so
    untraced steps pay for neither."""

    run_id: str
    active: bool
    enabled: bool = False
    sc: object = None  # SparkContext; job groups are set only when present
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = Span(name, layer, time.perf_counter(), math.nan, parent, sid)
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self._set_group(layer)
        try:
            yield
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self._restore_group(prev)

    def _set_group(self, layer: str):
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(layer, f"perfbench {self.run_id} {layer}")
        return (prev,)

    def _restore_group(self, prev) -> None:
        if prev is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", prev[0])  # None clears it

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {
                            "name": s.name,
                            "layer": s.layer,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "id": s.span_id,
                            "run": self.run_id,
                        }
                        for s in self.spans
                    ],
                    **extra,
                },
                f,
            )


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer: sum over its spans of duration minus the part of the
    span's interval its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - _covered(children.get(s.span_id, []), s.start, s.end)
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out


def median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile (pct in (0, 100])."""
    xs = sorted(samples)
    return xs[max(0, math.ceil(round(pct * len(xs) / 100, 9)) - 1)]


TAIL_PCTS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(samples: list[float], min_beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest of TAIL_PCTS with at least ``min_beyond`` samples
    strictly above it: (pct, value, samples beyond). None when even
    the median has fewer than ``min_beyond`` samples beyond it."""
    for pct in TAIL_PCTS:
        v = percentile(samples, pct)
        beyond = sum(1 for x in samples if x > v)
        if beyond >= min_beyond:
            return pct, v, beyond
    return None


def read_event_log(path: str, layer_of_group) -> dict[str, dict[str, float]]:
    """Roll task counters from a Spark JSON event log up per layer.

    ``layer_of_group(group_id)`` maps a job's ``spark.jobGroup.id`` to
    a layer name (or None to drop the job). Stages map to the job that
    submitted them; tasks to their stage. Also counts jobs per layer."""
    stage_layer: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(layer: str) -> dict[str, float]:
        return out.setdefault(layer, {c: 0.0 for c in COUNTERS + ("jobs",)})

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                layer = layer_of_group(group)
                if layer is None:
                    continue
                bucket(layer)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_layer[sid] = layer
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev.get("Stage ID"))
                if layer is None:
                    continue
                b = bucket(layer)
                b["tasks"] += 1
                info = ev.get("Task Info") or {}
                if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") not in (None, "Success"):
                    b["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return out
