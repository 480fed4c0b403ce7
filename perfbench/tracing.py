"""Measurement seams the benchmark attaches from outside the library.

- :class:`Tracer` records spans around calls into the library's public
  functions by rebinding them on their modules.  Spans live in memory
  and are written once, when the run ends.
- :class:`JobGroups` counts Spark jobs, stages and tasks per job group
  through ``statusTracker``; it reads the engine's status store only,
  so it adds no Spark jobs.
- :func:`eventlog_rollup` sums task time, shuffle and spill per job
  group from an uncompressed Spark event log.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """In-memory span recorder.

    A span is ``{id, name, start, end, parent, group}``: ``parent`` is
    the enclosing span on the same thread (``None`` at the root) and
    ``group`` names the unit of work the span belongs to, such as a
    query's job group; a span without one takes its parent's.  When
    ``enabled`` is false, :meth:`span` records nothing and :meth:`wrap`
    installs nothing.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, group: object = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            parent = self.spans[stack[-1]] if stack else None
            if group is None and parent is not None:
                group = parent["group"]
            rec = {
                "id": sid,
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": parent["id"] if parent else None,
                "group": group,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str, name: str | None = None) -> None:
        """Rebind ``module.attr`` to a wrapper that records a span per
        call.  Callers that look the name up on the module at call
        time (including the module's own functions) see the wrapper."""
        if not self.enabled:
            return
        orig = getattr(module, attr)
        span_name = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._restore.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()

    def closed_spans(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the part covered by its
        direct children (children are clipped to the parent)."""
        spans = self.closed_spans()
        children: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"])
                )
        out = {}
        for s in spans:
            covered = 0.0
            cur_start = cur_end = None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def busy(self, name: str) -> tuple[float, int]:
        """Total wall seconds and call count of spans named ``name``."""
        spans = [s for s in self.closed_spans() if s["name"] == name]
        return sum(s["end"] - s["start"] for s in spans), len(spans)

    def layer_self_seconds(self) -> dict[str, float]:
        """Self seconds summed per layer (the span name's prefix)."""
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.closed_spans():
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + st[s["id"]]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.closed_spans(), f)


class JobGroups:
    """Per-group job, stage and task counts from ``statusTracker``.

    Jobs reach the status store through Spark's listener bus, which
    runs behind the caller; :meth:`counts` waits until the group's
    jobs stop changing before reading them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    @contextmanager
    def group(self, gid: str):
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setJobGroup(None, None)

    def job_ids(self, gid: str) -> list[int]:
        prev, stable_since = None, time.perf_counter()
        deadline = stable_since + 5.0
        while True:
            ids = sorted(self.tracker.getJobIdsForGroup(gid))
            done = all(
                (info := self.tracker.getJobInfo(j)) is not None
                and info.status != "RUNNING"
                for j in ids
            )
            now = time.perf_counter()
            if ids != prev:
                prev, stable_since = ids, now
            elif done and now - stable_since >= 0.05:
                return ids
            if now > deadline:
                return ids
            time.sleep(0.01)

    def counts(self, gid: str) -> dict[str, int]:
        jobs = self.job_ids(gid)
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


_ACCUMS = {
    "internal.metrics.executorRunTime": "task_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Session settings for a plain-JSON event log under ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def eventlog_rollup(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> summed task ms, shuffle bytes and spill bytes.

    Read after the session stops, when the log is complete.  A stage
    counts toward the group of the job that submitted it."""
    stage_group: dict[int, str] = {}
    stage_metrics: dict[int, dict[str, float]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is not None:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m = stage_metrics.setdefault(info["Stage ID"], {})
                    for acc in info.get("Accumulables", []):
                        key = _ACCUMS.get(acc.get("Name"))
                        if key is not None:
                            m[key] = m.get(key, 0.0) + float(acc["Value"])
    out: dict[str, dict[str, float]] = {}
    for sid, m in stage_metrics.items():
        gid = stage_group.get(sid)
        if gid is None:
            continue
        g = out.setdefault(gid, {})
        for k, v in m.items():
            g[k] = g.get(k, 0.0) + v
    return out
