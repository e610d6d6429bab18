"""Span recording for the traced run, and the Spark event-log reader.

The benchmark never edits the engine to trace it. It wraps the engine's
public functions from outside: ``wrap(module, "name", span)`` replaces the
module attribute with a recorder, which also catches callers that bound
the function by name (``pipeline.merged_from`` is patched in ``pipeline``,
where ``run_pipeline`` looks it up). Spans are held in memory and only
summarised when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


_NO_SPAN = contextlib.nullcontext()


@dataclass
class Tracer:
    #: a disabled tracer records nothing and wraps nothing
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    #: seconds spent in the recorder's own bookkeeping
    bookkeeping_s: float = 0.0
    _stack: list[int] = field(default_factory=list)
    op: int | None = None

    def span(self, name: str):
        return _SpanCtx(self, name) if self.enabled else _NO_SPAN

    def wrap(self, module, attr: str, name: str) -> None:
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def recorded(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, recorded)

    def self_time(self, op_spans: list[int]) -> dict[str, float]:
        """name -> summed duration minus the time covered by child spans."""
        children: dict[int, float] = defaultdict(float)
        for i in op_spans:
            s = self.spans[i]
            if s.parent is not None:
                children[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i in op_spans:
            s = self.spans[i]
            out[s.name] += (s.end - s.start) - children[i]
        return out

    def totals(self, op_ids: set[int]) -> tuple[dict[str, float], dict[str, float]]:
        """(name -> total duration, name -> total self time) over the
        spans of the given ops."""
        idx = [i for i, s in enumerate(self.spans) if s.op in op_ids]
        total: dict[str, float] = defaultdict(float)
        for i in idx:
            total[self.spans[i].name] += self.spans[i].end - self.spans[i].start
        return total, self.self_time(idx)


class _SpanCtx:
    __slots__ = ("t", "name", "idx")

    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        b = time.perf_counter()
        t = self.t
        parent = t._stack[-1] if t._stack else None
        self.idx = len(t.spans)
        t.spans.append(Span(self.name, 0.0, 0.0, parent, t.op))
        t._stack.append(self.idx)
        now = time.perf_counter()
        t.spans[self.idx].start = now
        t.bookkeeping_s += now - b
        return self

    def __exit__(self, *exc):
        now = time.perf_counter()
        t = self.t
        t.spans[self.idx].end = now
        t._stack.pop()
        t.bookkeeping_s += time.perf_counter() - now
        return False


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

EXEC_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "scheduler_delay_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Parse one uncompressed Spark event log into job group -> summed
    stage metrics. A group's metrics add up every task of every stage its
    jobs ran, plus the sum and count, over stages with at least two tasks,
    of the slowest task's run time over the median task's."""
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or "untagged"
                acc[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                acc[stage_group.get(sid, "untagged")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "untagged")
                a = acc[group]
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                a["tasks"] += 1
                if info.get("Failed"):
                    a["failed_tasks"] += 1
                run_ms = m.get("Executor Run Time", 0)
                a["executor_run_s"] += run_ms / 1e3
                a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                overhead_ms = (
                    run_ms
                    + m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0)
                )
                a["scheduler_delay_s"] += max(0, dur_ms - overhead_ms) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                stage_tasks[ev["Stage ID"]].append(float(run_ms))
    skew: dict[str, list[float]] = defaultdict(list)
    for sid, runs in stage_tasks.items():
        med = statistics.median(runs)
        if len(runs) >= 2 and med > 0:
            skew[stage_group.get(sid, "untagged")].append(max(runs) / med)
    for group, ratios in skew.items():
        acc[group]["task_max_over_median_sum"] += sum(ratios)
        acc[group]["task_max_over_median_n"] += len(ratios)
    return acc
