"""Spans around calls into the engine, folded with Spark's own event log.

A span records wall time from the harness side. While it is open it sets
the Spark job group, so every job Spark runs is attributed to the
innermost open span. After the session stops, the uncompressed event log
is read back and ``SparkListenerTaskEnd`` records are summed per job,
then per span name.

Two derived times per span name:

- ``self_s``: the span's wall minus the wall of its child spans;
- ``driver_s``: the span's wall minus the union of the run intervals of
  the jobs issued inside it (its own and its children's), i.e. the time
  no Spark job was running, which is serial driver work.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator

GROUP_PREFIX = "cdcbench-"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf that makes Spark write one plain JSON-lines log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Collects spans in memory. A disabled tracer opens no span and
    touches no Spark property, so untraced runs pay nothing."""

    def __init__(self, sc: Any, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{GROUP_PREFIX}{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty("spark.jobGroup.id", rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", parent["id"] if parent else None
            )

    def instrument(self, obj: Any, method: str, name: str) -> None:
        """Shadow ``obj.method`` with a spanned call on this instance only
        (the engine's classes stay untouched)."""
        if not self.enabled:
            return
        inner: Callable[..., Any] = getattr(obj, method)

        @functools.wraps(inner)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)


def read_jobs(log_dir: str) -> list[dict[str, Any]]:
    """Fold the event log in ``log_dir`` into one record per job: its
    group, run interval and summed task metrics."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1 or files[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    jobs: dict[int, dict[str, Any]] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "tasks": 0,
                    "run_s": 0.0,
                    "cpu_s": 0.0,
                    "gc_s": 0.0,
                    "shuffle_write_bytes": 0,
                    "spill_bytes": 0,
                    "input_bytes": 0,
                    "output_bytes": 0,
                    "rows_written": 0,
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["run_s"] += m["Executor Run Time"] / 1e3
                j["cpu_s"] += m["Executor CPU Time"] / 1e9
                j["gc_s"] += m["JVM GC Time"] / 1e3
                j["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                j["spill_bytes"] += m["Disk Bytes Spilled"]
                j["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                j["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                j["rows_written"] += m["Output Metrics"]["Records Written"]
    return list(jobs.values())


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def fold(spans: list[dict[str, Any]], jobs: list[dict[str, Any]]) -> dict[str, dict[str, float]]:
    """Per span name: calls, wall, self and driver time, and the sums of
    the job metrics attributed to spans of that name."""
    children: dict[str, list[dict[str, Any]]] = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    own_jobs: dict[str, list[dict[str, Any]]] = {s["id"]: [] for s in spans}
    for j in jobs:
        if j["group"] in own_jobs:
            own_jobs[j["group"]].append(j)

    def subtree_jobs(sid: str) -> list[dict[str, Any]]:
        out = list(own_jobs[sid])
        for c in children[sid]:
            out.extend(subtree_jobs(c["id"]))
        return out

    out: dict[str, dict[str, float]] = {}
    for s in spans:
        wall = s["end"] - s["start"]
        busy = _union_s(
            [
                (max(j["start"], s["start"]), min(j["end"], s["end"]))
                for j in subtree_jobs(s["id"])
                if j["end"] is not None and j["end"] > s["start"] and j["start"] < s["end"]
            ]
        )
        agg = out.setdefault(
            s["name"],
            {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "driver_s": 0.0, "jobs": 0},
        )
        agg["calls"] += 1
        agg["wall_s"] += wall
        agg["self_s"] += wall - sum(c["end"] - c["start"] for c in children[s["id"]])
        agg["driver_s"] += max(0.0, wall - busy)
        agg["jobs"] += len(own_jobs[s["id"]])
        for j in own_jobs[s["id"]]:
            for k in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                      "spill_bytes", "input_bytes", "output_bytes", "rows_written"):
                agg[k] = agg.get(k, 0) + j[k]
    return out
