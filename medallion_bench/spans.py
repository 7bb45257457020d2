"""Spans around the benchmark's calls into the engine, and the Spark
event log folded into per-layer counters.

A span records name, start, end, parent and run id, and lives in memory
until the run writes it out. While a span is open on the main thread,
its Spark jobs run under their own job group (``span-<id>``). Jobs that
run on another thread (a streaming micro-batch runs on the query's own
thread) carry no span group; those go to the innermost span open when
the job was submitted — exact for a one-client closed loop, where spans
never overlap except by nesting.

A layer is the package module a span names: ``sources.bronze.write``
belongs to ``sources.bronze``; ``plans.build`` and ``plans.collect`` to
``plans``. Lazy work is billed to the span whose action ran it.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

COUNTER_LAYERS = (
    "sources.bronze",
    "sources.silver",
    "operators.clean",
    "operators.gold",
    "streaming.ingest",
    "plans",
)
COUNTERS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "driver_s",
    "slot_share",
)


def layer_of(span_name: str) -> str:
    """``sources.bronze.write`` -> ``sources.bronze``; ``plans.collect`` -> ``plans``."""
    parts = span_name.split(".")
    return parts[0] if parts[0] in ("plans", "session", "op") else ".".join(parts[:2])


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields a scratch
    dict, so the untraced run pays two dict operations per call."""

    def __init__(self, enabled: bool, run_id: str, sc=None):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_index: int | None = None  # set by the loop; None outside ops

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "op": self.op_index,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        main = threading.current_thread() is threading.main_thread()
        if main and self.sc is not None:
            self.sc.setJobGroup(f"span-{sid}", name)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if main and self.sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def wrapping(self, owner, attr: str, span_name: str):
        """Swap ``owner.attr`` (a function a module looks up by name, or a
        method on a class) for one that runs inside a span; restore it on
        exit. A no-op when tracing is off."""
        if not self.enabled:
            yield
            return
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --- event log ---------------------------------------------------------------


def _event_lines(path: str):
    """Lines of an uncompressed event log: one file, or a rolling (v2)
    log directory of ``events_<n>_<app>`` files."""
    if os.path.isdir(path):
        parts = [p for p in os.listdir(path) if p.startswith("events_")]
        files = [os.path.join(path, p) for p in sorted(parts, key=lambda p: int(p.split("_")[1]))]
    else:
        files = [path]
    for name in files:
        with open(name) as f:
            yield from f


def read_event_log(path: str) -> list[dict]:
    """Jobs from one uncompressed Spark event log, each with its group,
    submit/complete times (s) and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            j = {
                "id": ev["Job ID"],
                "group": props.get("spark.jobGroup.id"),
                "submit": ev["Submission Time"] / 1000.0,
                "end": None,
                "tasks": 0,
                "executor_run_s": 0.0,
                "executor_cpu_s": 0.0,
                "gc_s": 0.0,
                "input_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            }
            jobs[j["id"]] = j
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = j["id"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics")
            if j is None or not m:
                continue
            j["tasks"] += 1
            j["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            j["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["submit"]
    return sorted(jobs.values(), key=lambda j: j["submit"])


def assign_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, list[dict]]:
    """span id -> the jobs it ran: by job group, else the innermost span
    open at submission."""
    by_span: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for j in jobs:
        g = j["group"] or ""
        sid = int(g[5:]) if g.startswith("span-") and g[5:].isdigit() else None
        if sid is None or sid not in by_span:
            open_ = [s for s in spans if s["start"] <= j["submit"] <= s["end"]]
            if not open_:
                continue
            sid = max(open_, key=lambda s: s["start"])["id"]
        by_span[sid].append(j)
    return by_span


def _union_len(intervals: list[tuple[float, float]]) -> float:
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


def span_counters(spans: list[dict], jobs: list[dict]) -> dict[int, dict]:
    """Per span: its own jobs' counters, ``self_s`` (wall not covered by
    child spans) and ``driver_s`` (self wall not covered by its own
    jobs either)."""
    by_span = assign_jobs(spans, jobs)
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        kids = [(max(lo, c["start"]), min(hi, c["end"])) for c in children.get(s["id"], [])]
        own = [(max(lo, j["submit"]), min(hi, j["end"])) for j in by_span[s["id"]]]
        own = [(a, b) for a, b in own if b > a]
        wall = hi - lo
        c = {k: sum(j[k] for j in by_span[s["id"]]) for k in COUNTERS if k not in ("jobs", "driver_s", "slot_share")}
        c["jobs"] = len(by_span[s["id"]])
        c["self_s"] = wall - _union_len(kids)
        c["driver_s"] = wall - _union_len(kids + own)
        out[s["id"]] = c
    return out


def layer_counters(
    spans: list[dict], per_span: dict[int, dict], timed_ops: list[int], cores: int
) -> dict[str, float]:
    """``<layer>.<counter>`` for every counter layer: per-timed-operation
    means of the layer's span counters (``span_counters``); ``slot_share``
    is the layer's executor run time over (its self wall × cores)."""
    ops = set(timed_ops)
    n = max(len(ops), 1)
    out: dict[str, float] = {}
    for layer in COUNTER_LAYERS:
        mine = [per_span[s["id"]] for s in spans if s["op"] in ops and layer_of(s["name"]) == layer]
        for k in COUNTERS:
            if k == "slot_share":
                wall = sum(c["self_s"] for c in mine)
                run = sum(c["executor_run_s"] for c in mine)
                out[f"{layer}.{k}"] = run / (wall * cores) if wall > 0 else 0.0
            else:
                out[f"{layer}.{k}"] = sum(c[k] for c in mine) / n
    return out
