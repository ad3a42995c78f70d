"""Spans around the benchmark's calls into each layer, and the fold of
Spark's event log into per-layer task metrics.

A span is opened around one public call; it sets ``sc.setJobGroup(<name>)``
first, so every Spark job the call starts carries the layer's name. After
the session stops, ``fold_event_log`` groups ``SparkListenerTaskEnd``
metrics by that job group. Times in spans and in the event log are both
wall-clock epoch seconds, so task intervals can be laid over spans: the
part of a span during which no task ran is driver time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; ``sc`` (a SparkContext) gets the job group."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[tuple[int, str]] = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = self._next
        self._next += 1
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        self._stack.append((sid, name))
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(Span(sid, name, start, end,
                                   parent[0] if parent else None, self.run_id))
            if self.sc is not None and parent is not None:
                self.sc.setJobGroup(parent[1], parent[1])

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def covered(start: float, end: float,
            intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals
        if b > start and a < end
    )
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


def self_time(span: Span, spans: list[Span]) -> float:
    """Span wall minus the part of it its direct children cover."""
    children = [(s.start, s.end) for s in spans if s.parent == span.id]
    return span.wall - covered(span.start, span.end, children)


def idle_time(start: float, end: float,
              intervals: list[tuple[float, float]]) -> float:
    """Wall in ``[start, end]`` during which no task interval ran."""
    return (end - start) - covered(start, end, intervals)


@dataclass
class LayerStats:
    jobs: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    rows_in: int = 0
    output_b: int = 0
    rows_out: int = 0
    job_starts: list = field(default_factory=list)
    intervals: list = field(default_factory=list)

    def public(self) -> dict:
        d = asdict(self)
        del d["job_starts"], d["intervals"]
        return d


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``.

    Handles both layouts: one file per application, and the rolling
    ``eventlog_v2_*`` directory of ``events_*`` files.
    """
    files = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            files += sorted(parts, key=lambda p: int(
                os.path.basename(p).split("_")[1]))
        elif not entry.endswith(".inprogress"):
            files.append(entry)
    events = []
    for path in files:
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def fold_event_log(events: list[dict]) -> dict[str | None, LayerStats]:
    """Per job group: job count and summed TaskEnd metrics.

    A stage belongs to the group of the first job that listed it; tasks of a
    stage no job listed fold under ``None``.
    """
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, LayerStats] = defaultdict(LayerStats)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            st = out[group]
            st.jobs += 1
            st.job_starts.append(e.get("Submission Time", 0) / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            st = out[stage_group.get(e.get("Stage ID"))]
            info = e.get("Task Info") or {}
            m = e.get("Task Metrics") or {}
            st.tasks += 1
            st.task_run_s += m.get("Executor Run Time", 0) / 1000.0
            st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            st.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.spill_b += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            inp = m.get("Input Metrics") or {}
            st.input_b += inp.get("Bytes Read", 0)
            st.rows_in += inp.get("Records Read", 0)
            outp = m.get("Output Metrics") or {}
            st.output_b += outp.get("Bytes Written", 0)
            st.rows_out += outp.get("Records Written", 0)
            if info.get("Launch Time") and info.get("Finish Time"):
                st.intervals.append((info["Launch Time"] / 1000.0,
                                     info["Finish Time"] / 1000.0))
    return dict(out)


def all_intervals(folded: dict[str | None, LayerStats]) -> list[tuple[float, float]]:
    return [iv for st in folded.values() for iv in st.intervals]
