"""Spans around layer calls, and Spark counters per span from the event log.

A span is one timed call into a layer of the engine (``extract``,
``algorithms.pagerank``, ``checkpoint.commit``, ...), recorded by the
benchmark around the public function it calls. Spans nest: the workload
pass is the root, the layer calls are its children, and checkpoint calls
made from inside an algorithm are children of that algorithm's span.

With tracing on, each span also sets a Spark job group, so every job,
stage and task in the Spark event log can be attributed to the innermost
span that was open when it was submitted. Everything here is pure Python
over plain dicts, so it is tested without Spark against a recorded log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections.abc import Iterable, Iterator

MB = 1 << 20

# Per-call counters attributed to a span (its own jobs plus its children's).
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
)


class Tracer:
    """Records spans in memory. While ``sc`` is set to a SparkContext
    (tracing on), each span is also the Spark job group of the jobs
    submitted while it is the innermost open span."""

    def __init__(self, workload: str):
        self.workload = workload
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.pass_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"span-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
            "pass_id": self.pass_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", rec["id"] if rec else None)
        self.sc.setLocalProperty("spark.job.description", rec["name"] if rec else None)

    def durations(self, name: str, passes) -> list[float]:
        """Per-pass durations in the given passes. For a layer, each call
        directly under a pass span. For ``pass``, the sum of the pass's
        layer calls, so cache resets and output checks between them are
        left out."""
        top = {s["id"]: s for s in self.spans if s["name"] == "pass" and s["pass_id"] in passes}
        calls = [s for s in self.spans if s["parent"] in top and s["end"] is not None]
        if name != "pass":
            return [s["end"] - s["start"] for s in calls if s["name"] == name]
        return [sum(c["end"] - c["start"] for c in calls if c["parent"] == pid) for pid in top]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


def event_log_files(log_dir: str) -> list[str]:
    """Event log files under ``log_dir``: Spark 4 writes a rolling directory
    ``eventlog_v2_<app>/events_<n>_<app>`` per application; a plain file per
    application is read as well."""
    files = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            # events_<n>_<app>: order by the roll index n
            files.extend(sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])))
        elif not path.endswith(".inprogress"):
            files.append(path)
    return files


def read_events(paths: Iterable[str]) -> Iterator[dict]:
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _blank() -> dict:
    out = {k: 0.0 for k in COUNTERS}
    out["task_intervals"] = []
    return out


def counters_by_group(events: Iterable[dict]) -> dict[str, dict]:
    """Sum Spark counters per job group.

    jobs: job starts; stages: stage attempts that ran (skipped stages are
    never submitted); tasks: finished task attempts. Each stage is charged
    to the job group of the job that submitted it. Sizes are MB, times are
    seconds. ``task_intervals`` lists each task's (launch, finish) in
    seconds since the epoch. Jobs with no group land under ``None``."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str | None] = {}

    def bucket(g):
        return groups.setdefault(g, _blank())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            bucket(g)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id", stage_group.get(info["Stage ID"]))
            stage_group[info["Stage ID"]] = g
            bucket(g)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            b = bucket(stage_group.get(ev["Stage ID"]))
            ti = ev["Task Info"]
            b["tasks"] += 1
            b["task_intervals"].append((ti["Launch Time"] / 1e3, ti["Finish Time"] / 1e3))
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            b["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            b["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            b["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
            b["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            b["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            b["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    return groups


# --------------------------------------------------------------------------
# span arithmetic
# --------------------------------------------------------------------------


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
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


def self_time(span: dict, children: Iterable[dict]) -> float:
    """The span's duration minus the part of it its child spans cover."""
    return (span["end"] - span["start"]) - covered(
        ((c["start"], c["end"]) for c in children), span["start"], span["end"]
    )


def span_metrics(spans: list[dict], groups: dict[str, dict]) -> list[dict]:
    """Per-span record: wall_s, self_s, driver_gap_s and every counter in
    COUNTERS, summed over the span and all its descendants.

    driver_gap_s is the part of the span during which none of its tasks
    ran: planning, driver-side work and scheduling gaps."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def subtree(s):
        yield s
        for c in children.get(s["id"], []):
            yield from subtree(c)

    out = []
    for s in spans:
        if s["end"] is None:
            continue
        rec = {"id": s["id"], "name": s["name"], "pass_id": s.get("pass_id")}
        rec["wall_s"] = s["end"] - s["start"]
        rec["self_s"] = self_time(s, children.get(s["id"], []))
        totals = _blank()
        for d in subtree(s):
            g = groups.get(d["id"])
            if g is None:
                continue
            for k in COUNTERS:
                totals[k] += g[k]
            totals["task_intervals"].extend(g["task_intervals"])
        for k in COUNTERS:
            rec[k] = totals[k]
        rec["driver_gap_s"] = rec["wall_s"] - covered(totals["task_intervals"], s["start"], s["end"])
        out.append(rec)
    return out


def summarize(records: list[dict], names: Iterable[str]) -> dict[str, dict]:
    """Median, min and max over calls of each per-call metric, per layer."""
    out = {}
    for name in names:
        calls = [r for r in records if r["name"] == name]
        if not calls:
            continue
        layer = {"calls": len(calls)}
        for k in ("wall_s", "self_s", "driver_gap_s") + COUNTERS:
            vals = [r[k] for r in calls]
            layer[k] = {"median": statistics.median(vals), "min": min(vals), "max": max(vals)}
        out[name] = layer
    return out
