"""Spans around layer calls, and the Spark event-log fold that turns
them into per-layer metrics.

A span sets a Spark job group for its thread while it runs, so every
job it launches is tagged in the event log. ``fold`` then joins the
spans with the log: per span name it reports calls, wall and self
time, driver time (wall not covered by any of its jobs), jobs, tasks,
executor run/CPU seconds, shuffle-write and spill megabytes. All
fields except ``self_s`` include the span's descendants.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

FIELDS = (
    "calls",
    "wall_s",
    "self_s",
    "driver_s",
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_mb",
    "spill_mb",
)
GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"
MB = 1024 * 1024


class Tracer:
    """Records spans; a disabled tracer is a no-op with the same API."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._seq = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        gid = f"pb.{next(self._seq)}.{name}"
        prev = (self.sc.getLocalProperty(GROUP_KEY), self.sc.getLocalProperty(DESC_KEY))
        self.sc.setLocalProperty(GROUP_KEY, gid)
        self.sc.setLocalProperty(DESC_KEY, name)
        parent = stack[-1] if stack else None
        stack.append(gid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev[0])
            self.sc.setLocalProperty(DESC_KEY, prev[1])
            with self._lock:
                self.spans.append(
                    {"id": gid, "name": name, "parent": parent, "start": t0, "end": t1}
                )

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned call of the original."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def fold(events: list[dict], spans: list[dict], names: list[str] | None = None) -> dict:
    """Per-span-name metrics; ``names`` lists spans to report even when
    they never ran (all fields zero)."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    stages: list[tuple[str | None, dict]] = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {
                "group": (e.get("Properties") or {}).get(GROUP_KEY),
                "start": e["Submission Time"] / 1000.0,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stage_group[info["Stage ID"]] = (e.get("Properties") or {}).get(GROUP_KEY)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
            stages.append(
                (
                    stage_group.get(info["Stage ID"]),
                    {
                        "tasks": info.get("Number of Tasks", 0),
                        "run_ms": float(acc.get("internal.metrics.executorRunTime", 0) or 0),
                        "cpu_ns": float(acc.get("internal.metrics.executorCpuTime", 0) or 0),
                        "shuffle_b": float(acc.get("internal.metrics.shuffle.write.bytesWritten", 0) or 0),
                        "spill_b": float(acc.get("internal.metrics.diskBytesSpilled", 0) or 0),
                    },
                )
            )

    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)

    def subtree(gid: str) -> set[str]:
        out, todo = set(), [gid]
        while todo:
            g = todo.pop()
            out.add(g)
            todo.extend(c["id"] for c in children.get(g, []))
        return out

    out = {n: dict.fromkeys(FIELDS, 0.0) for n in (names or [])}
    for s in spans:
        groups = subtree(s["id"])
        wall = s["end"] - s["start"]
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        mine = [j for j in jobs.values() if j["group"] in groups]
        covered = [
            (max(j["start"], s["start"]), min(j["end"] or s["end"], s["end"]))
            for j in mine
        ]
        st = [m for g, m in stages if g in groups]
        agg = out.setdefault(s["name"], dict.fromkeys(FIELDS, 0.0))
        agg["calls"] += 1
        agg["wall_s"] += wall
        agg["self_s"] += wall - _union_s(kids)
        agg["driver_s"] += wall - _union_s([c for c in covered if c[1] > c[0]])
        agg["jobs"] += len(mine)
        agg["tasks"] += sum(m["tasks"] for m in st)
        agg["executor_run_s"] += sum(m["run_ms"] for m in st) / 1000.0
        agg["executor_cpu_s"] += sum(m["cpu_ns"] for m in st) / 1e9
        agg["shuffle_write_mb"] += sum(m["shuffle_b"] for m in st) / MB
        agg["spill_mb"] += sum(m["spill_b"] for m in st) / MB
    return out


def flatten(folded: dict) -> dict[str, float]:
    """``{"a": {"calls": 1}}`` -> ``{"a.calls": 1}``."""
    return {f"{name}.{k}": v for name, m in folded.items() for k, v in m.items()}
