"""Spans around the benchmark's calls into the program, and the reduction of
Spark's event log onto them.

Every span is kept in memory: kind, name, parent, start and end. When a
SparkContext is attached, entering a span also sets the Spark job group to
the span's id, so each job, stage and task in the event log can be charged
to the span that started it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager


def group_id(span_id: int) -> str:
    return f"perfbench-{span_id}"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: set to a SparkContext to tag jobs with the open span's id
        self.sc = None

    def open(self, kind: str, name: str = "") -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"id": sid, "kind": kind, "name": name, "parent": parent, "start": time.perf_counter(), "end": None}
        )
        self._stack.append(sid)
        self._tag(sid)
        return sid

    def close(self, sid: int) -> float:
        """End span ``sid`` (the innermost open one); returns its duration."""
        if not self._stack or self._stack[-1] != sid:
            raise RuntimeError(f"span {sid} closed out of order")
        self._stack.pop()
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        if self._stack:
            self._tag(self._stack[-1])
        return span["end"] - span["start"]

    def current(self) -> int:
        return self._stack[-1]

    def unwind(self, sid: int) -> None:
        """Close every span opened inside ``sid``, then ``sid`` itself (what
        an exception inside a span leaves open)."""
        while sid in self._stack:
            self.close(self._stack[-1])

    @contextmanager
    def span(self, kind: str, name: str = ""):
        sid = self.open(kind, name)
        try:
            yield sid
        finally:
            self.close(sid)

    def _tag(self, sid: int) -> None:
        if self.sc is not None:
            s = self.spans[sid]
            self.sc.setJobGroup(group_id(sid), f"{s['kind']} {s['name']}".strip())

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def subtree(self, sid: int) -> list[int]:
        """``sid`` and every span below it."""
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x, ()))
        return out

    def self_times(self, sid: int) -> dict[str, float]:
        """Self time summed by span kind over the subtree of ``sid``: each
        span's duration minus the time its (sequential) children cover."""
        child_time: dict[int, float] = {}
        ids = self.subtree(sid)
        for x in ids:
            p = self.spans[x]["parent"]
            if p is not None and x != sid:
                child_time[p] = child_time.get(p, 0.0) + self.duration(x)
        out: dict[str, float] = {}
        for x in ids:
            k = self.spans[x]["kind"]
            out[k] = out.get(k, 0.0) + self.duration(x) - child_time.get(x, 0.0)
        return out

    def dump(self, t0: float) -> list[dict]:
        """Spans with times in seconds from ``t0``."""
        return [
            {**s, "start": round(s["start"] - t0, 6), "end": None if s["end"] is None else round(s["end"] - t0, 6)}
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # Spark 4.1 compresses the log with zstd by default; keep it plain JSON
    "spark.eventLog.compress": "false",
}


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Events of application ``app_id`` from a plain or rolling event log."""
    rolling = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolling):
        files = glob.glob(os.path.join(rolling, "events_*"))
        files.sort(key=lambda f: int(re.match(r"events_(\d+)_", os.path.basename(f)).group(1)))
    else:
        files = [os.path.join(log_dir, app_id)]
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _zero() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "single_task_stages": 0,
        "executor_run_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "input_mb": 0.0,
        "text_scans": 0,
    }


def reduce_by_group(events: list[dict]) -> dict[str, dict]:
    """Jobs, stages, tasks and task metrics per Spark job group."""
    out: dict[str, dict] = {}
    stage_group: dict[tuple[int, int], str] = {}
    mb = 1024.0 * 1024.0
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                out.setdefault(g, _zero())["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            info = e["Stage Info"]
            if g:
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = stage_group.get((info["Stage ID"], info["Stage Attempt ID"]))
            if g:
                r = out.setdefault(g, _zero())
                r["stages"] += 1
                r["single_task_stages"] += info["Number of Tasks"] == 1
                r["text_scans"] += any(
                    rdd.get("Name") == "FileScanRDD" and '"name":"Scan text' in rdd.get("Scope", "")
                    for rdd in info.get("RDD Info", [])
                )
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
            m = e.get("Task Metrics")
            if g and m:
                r = out.setdefault(g, _zero())
                r["tasks"] += 1
                r["executor_run_s"] += m["Executor Run Time"] / 1000.0
                r["gc_s"] += m["JVM GC Time"] / 1000.0
                sr = m["Shuffle Read Metrics"]
                r["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / mb
                r["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / mb
                r["spill_mb"] += m["Disk Bytes Spilled"] / mb
                r["input_mb"] += m["Input Metrics"]["Bytes Read"] / mb
    return out


def sum_groups(per_group: dict[str, dict], span_ids: list[int]) -> dict:
    total = _zero()
    for sid in span_ids:
        r = per_group.get(group_id(sid))
        if r:
            for k, v in r.items():
                total[k] += v
    return total
