"""Spans around the benchmark's calls into each layer, and the Spark
event log folded per job group.

Spans are recorded only by the benchmark's own files (the package is
not instrumented): name, start, end, parent span and operation id.  An
operation's span also tags its Spark jobs with ``setJobGroup`` so the
engine metrics of the uncompressed event log can be attributed to it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

# event-log accumulator name -> (engine metric, scale to the metric's unit)
_ACCUMS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1),
    "time to start Python workers": ("python_start_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("arrow_in_bytes", 1),
    "data returned from Python workers": ("arrow_out_bytes", 1),
}
ENGINE_METRICS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "driver_s", "shuffle_bytes", "python_start_s", "python_run_s",
                  "arrow_in_bytes", "arrow_out_bytes")


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op: str | None = None, group: str | None = None):
        if not self.enabled:
            return nullcontext()
        return self._span(name, op, group)

    @contextmanager
    def _span(self, name, op, group):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": sid, "name": name, "parent": parent, "op": op,
               "group": group, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if group is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group is not None:
                self.sc.setJobGroup("bench", "between operations")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: duration minus child coverage."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
    return dict(out)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0.0)


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the newest application under ``log_dir`` (Spark 4
    writes one directory per application, rolled into events_* files)."""
    apps = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")), key=os.path.getmtime)
    if not apps:
        return []
    files = sorted(glob.glob(os.path.join(apps[-1], "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def engine_by_group(events: list[dict], spans: list[dict]) -> dict[str, dict]:
    """Engine metrics per job group, summed over the group's tasks.

    ``driver_s`` is the group's span wall time minus the time any stage
    of the group was running: planning, scheduling, broadcast builds
    and collect on the driver."""
    stage_group: dict[int, str] = {}
    jobs = defaultdict(int)
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            jobs[g] += 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, g)
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(ENGINE_METRICS, 0.0))
    intervals = defaultdict(list)
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if g is None:
                continue
            rec = out[g]
            rec["tasks"] += 1
            for a in e["Task Info"].get("Accumulables", []):
                m = _ACCUMS.get(a.get("Name"))
                if m is not None:
                    rec[m[0]] += float(a.get("Update") or 0) * m[1]
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g is not None and info.get("Submission Time") and info.get("Completion Time"):
                intervals[g].append((info["Submission Time"] / 1e3, info["Completion Time"] / 1e3))
    wall = defaultdict(list)
    for s in spans:
        if s["group"] is not None:
            wall[s["group"]].append((s["start"], s["end"]))
    for g, rec in out.items():
        rec["jobs"] = jobs[g]
        busy = 0.0
        for s0, s1 in wall.get(g, []):
            busy += _union_s([(max(a, s0), min(b, s1)) for a, b in intervals[g]
                              if min(b, s1) > max(a, s0)])
        rec["driver_s"] = sum(b - a for a, b in wall.get(g, [])) - busy
    return dict(out)
