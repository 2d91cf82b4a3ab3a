"""Spans recorded around calls into the library, and the Spark event-log
parser that turns each span's jobs into task metrics.

A span has a name, start, end, parent span and run id.  Spans are kept in
memory and written out once, when the traced run ends.  While a span is open
its name is the Spark job group of the calling thread, so the event log ties
jobs to spans.  Jobs submitted from threads the library starts itself carry
no group; they are attributed to the innermost span open when they were
submitted (one client, closed loop: nothing else submits jobs then).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(name, name)
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent, parent)
            self.spans.append(Span(name, start, end, parent, self.run_id))

    def seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id,
                       "spans": [asdict(s) for s in self.spans], **extra},
                      f, indent=1)


@dataclass
class SpanStats:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0          # summed executor run time
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    max_task_s: float = 0.0     # in the span's busiest stage
    median_task_s: float = 0.0  # in the span's busiest stage

    @property
    def task_skew(self) -> float:
        """Slowest task over the median task of the stage that took the
        most task time; 0 when the span ran no task."""
        return self.max_task_s / self.median_task_s if self.median_task_s else 0.0


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the one application logged under ``log_dir``; a
    rolling log is a directory of ``events_<n>_*`` files, read in order."""
    files = sorted(
        (f for f in glob.glob(os.path.join(log_dir, "**"), recursive=True)
         if os.path.isfile(f) and not os.path.basename(f).startswith(
             ("appstatus", "."))),
        key=lambda f: [int(t) if t.isdigit() else t
                       for t in os.path.basename(f).split("_")])
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def span_stats(events: list[dict], spans: list[Span]) -> dict[str, SpanStats]:
    """Per-span task metrics.  A job belongs to the span named by its job
    group or, for untagged jobs, to the innermost span open at submission;
    a stage belongs to the first job that lists it; a task to its stage.
    Spans sharing a name are pooled."""
    names = {s.name for s in spans}

    def innermost(t_ms: float) -> str | None:
        t = t_ms / 1000.0
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start > best.start):
                best = s
        return best.name if best else None

    stage_span: dict[int, str] = {}
    task_times: dict[int, list[float]] = {}
    stats = {n: SpanStats() for n in names}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            name = group if group in names else innermost(ev["Submission Time"])
            if name is None:
                continue
            stats[name].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_span.setdefault(sid, name)
        elif kind == "SparkListenerTaskEnd":
            name = stage_span.get(ev["Stage ID"])
            if name is None:
                continue
            st = stats[name]
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.run_s += m.get("Executor Run Time", 0) / 1000.0
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics", {})
            st.shuffle_read_mb += (rd.get("Remote Bytes Read", 0)
                                   + rd.get("Local Bytes Read", 0)) / 1e6
            st.shuffle_write_mb += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0) / 1e6
            st.spill_mb += (m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0)) / 1e6
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
            task_times.setdefault(ev["Stage ID"], []).append(dur)
    busiest: dict[str, list[float]] = {}
    for sid, ts in task_times.items():
        name = stage_span[sid]
        if sum(ts) > sum(busiest.get(name, [])):
            busiest[name] = ts
    for name, ts in busiest.items():
        stats[name].max_task_s = max(ts)
        stats[name].median_task_s = statistics.median(ts)
    return stats
