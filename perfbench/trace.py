"""Timing hooks the benchmark puts around the engine's layers.

``Tracer`` keeps spans (id, name, start, end, parent) in memory and writes
them as JSON lines at exit; when disabled it records nothing.
``TimedEngine`` and ``TimedSink`` subclass the engine and the sink and only
span ``super().apply_batch`` / ``super().commit``, adding the files and
bytes each batch writes and whether its commit compacted.  ``event_log_metrics`` reads the Spark event log the traced
run enables and attributes jobs, task skew and shuffle bytes to the spans
of one name (batches, epochs or queries).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time

from emailcdc.engine import CdcEngine
from emailcdc.sink import SnapshotParquetSink


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Yields the span dict, so the caller can add attributes; a
        throwaway dict when tracing is off."""
        if not self.enabled:
            yield {}
            return
        stack = self._local.__dict__.setdefault("stack", [])
        span = {"id": next(self._ids), "name": name,
                "parent": stack[-1] if stack else None, **attrs}
        stack.append(span["id"])
        span["start"] = time.time()
        try:
            yield span
        finally:
            span["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


def tree_size(root: str) -> tuple[int, int]:
    """(file count, bytes) of every regular file under ``root``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            try:
                size += os.stat(os.path.join(dirpath, n)).st_size
            except FileNotFoundError:
                continue
            files += 1
    return files, size


class TimedSink(SnapshotParquetSink):
    def __init__(self, spark, root, tracer: Tracer, **kw):
        super().__init__(spark, root, **kw)
        self.tracer = tracer

    def commit(self, *args, **kwargs):
        with self.tracer.span("sink.commit") as span:
            manifest = super().commit(*args, **kwargs)
            span["compacted"] = manifest.delta_depth == 0
        return manifest


class TimedEngine(CdcEngine):
    """Spans every applied batch, with the files and bytes it adds under
    the sink root."""

    def __init__(self, spark, sink: TimedSink, **kw):
        super().__init__(spark, sink, **kw)
        self.tracer = sink.tracer

    def apply_batch(self, batch, batch_id, *args, **kwargs):
        traced = self.tracer.enabled
        if traced:
            files0, bytes0 = tree_size(self.sink.root)
        with self.tracer.span("engine.apply_batch", batch_id=batch_id) as span:
            result = super().apply_batch(batch, batch_id, *args, **kwargs)
        if traced:
            files1, bytes1 = tree_size(self.sink.root)
            span.update(events=result.event_count, files=files1 - files0,
                        bytes=bytes1 - bytes0)
        return result


def _load_event_log(event_log_dir: str) -> list[dict]:
    """Events of the newest application log (earlier set-up sessions
    leave logs of their own)."""
    logs = [os.path.join(event_log_dir, n) for n in os.listdir(event_log_dir)]
    if not logs:
        return []
    with open(max(logs, key=os.path.getmtime)) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def event_log_metrics(event_log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Per step window ``(start, end)`` in epoch seconds: Spark jobs
    submitted, the task skew (max / median task time) of the step's
    longest stage, and the shuffle bytes its tasks wrote.  Returns the
    median jobs and skew and the mean shuffle MB over the steps."""
    jobs, tasks = [], []
    for ev in _load_event_log(event_log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append(ev["Submission Time"] / 1000)
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            shuffle = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
            tasks.append((ev["Stage ID"], info["Launch Time"] / 1000,
                          info["Finish Time"] / 1000,
                          shuffle.get("Shuffle Bytes Written", 0)))
    n_jobs, skews, shuffle_mb = [], [], []
    for lo, hi in windows:
        n_jobs.append(sum(lo <= t <= hi for t in jobs))
        stages: dict[int, list] = {}
        written = 0
        for stage, start, end, nbytes in tasks:
            if lo <= start <= hi:
                stages.setdefault(stage, []).append((start, end))
                written += nbytes
        shuffle_mb.append(written / 1e6)
        if stages:
            longest = max(stages.values(), key=lambda ts: max(e for _, e in ts)
                          - min(s for s, _ in ts))
            times = [e - s for s, e in longest]
            skews.append(max(times) / max(statistics.median(times), 1e-3))
    return {
        "jobs_per_step": statistics.median(n_jobs) if n_jobs else 0,
        "task_skew": statistics.median(skews) if skews else 0.0,
        "shuffle_mb_per_step": statistics.fmean(shuffle_mb) if shuffle_mb else 0.0,
    }
