"""Spans around calls into the engine's layers, timed from outside.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, trace
id) and can replace a module attribute or a class method with a wrapper
that records a span around each call. When job labelling is on, a span
also sets the Spark job group to ``<trace id>:<span name>`` for its
duration, so the status REST API can report executor CPU, shuffle bytes,
GC time and spill per labelled call.

The untraced benchmark run never builds a Tracer with wrappers; the
traced run is a separate process.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from urllib.parse import urlparse


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    trace_id: str


class Tracer:
    def __init__(self, spark=None, label_jobs: bool = False):
        self.spark = spark
        self.label_jobs = label_jobs
        self.spans: list[Span] = []
        self.trace_id = "setup"
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.monotonic(), 0.0, parent, self.trace_id))
        self._stack.append(idx)
        sc = self.spark.sparkContext if self.label_jobs else None
        keys = ("spark.jobGroup.id", "spark.job.description")
        prev = [sc.getLocalProperty(k) for k in keys] if sc else None
        if sc:
            sc.setJobGroup(f"{self.trace_id}:{name}", name)
        try:
            yield
        finally:
            self.spans[idx].end = time.monotonic()
            self._stack.pop()
            if sc:
                for k, v in zip(keys, prev):
                    sc.setLocalProperty(k, v)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or class method) with a
        wrapper that records span ``name`` around every call. ``name`` may
        hold ``{0}``, filled with the call's first argument (for methods,
        the one after ``self``)."""
        orig = getattr(owner, attr)
        is_method = isinstance(owner, type)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label_args = args[1:] if is_method else args
            label = name.format(*label_args) if "{0}" in name else name
            with self.span(label):
                return orig(*args, **kwargs)

        self.replace(owner, attr, wrapper)

    def replace(self, owner, attr: str, fn) -> None:
        """Set ``owner.attr`` to ``fn`` until :meth:`restore`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------- analysis
    def self_times(self, trace_ids) -> dict[str, dict[str, float]]:
        """Per span name and trace, the summed self time: duration minus
        the part covered by direct child spans (children never overlap
        here: one driver thread)."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            if s.trace_id in trace_ids:
                out[s.name][s.trace_id] += (s.end - s.start) - child_time[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def median_or_zero(values) -> float:
    """Median of an iterable, or of a dict's values; 0 when empty."""
    values = list(values.values() if isinstance(values, dict) else values)
    return float(statistics.median(values)) if values else 0.0


# ------------------------------------------------------- Spark REST metrics
STAGE_FIELDS = {
    "cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_bytes": ("shuffleWriteBytes", 1.0),
    "gc_s": ("jvmGcTime", 1e-3),
    "spill_bytes": ("diskBytesSpilled", 1.0),
}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def group_stage_metrics(spark) -> dict[str, dict[str, float]]:
    """Stage metrics summed per job group, plus ``jobs`` (job count), via
    the status REST API of the Spark application's own UI on the loopback
    address."""
    port = urlparse(spark.sparkContext.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications"
    app = _get(base)[0]["id"]
    jobs = _get(f"{base}/{app}/jobs")
    stages = {s["stageId"]: s for s in _get(f"{base}/{app}/stages")}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for job in jobs:
        group = job.get("jobGroup") or "none"
        out[group]["jobs"] += 1
        for sid in job.get("stageIds", []):
            st = stages.pop(sid, None)  # a stage shared by jobs counts once
            if st is None or st.get("status") == "SKIPPED":
                continue
            for key, (field, scale) in STAGE_FIELDS.items():
                out[group][key] += st.get(field, 0) * scale
    return out


# ------------------------------------------------------------ process stats
def _ticks(pid: int) -> int:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # utime, stime, cutime, cstime (fields 14-17 of stat)
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of a process and its live descendants, including the
    children they have reaped (Python UDF workers live under the JVM)."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children[ppid].append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            total += _ticks(pid)
        except OSError:
            continue
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
