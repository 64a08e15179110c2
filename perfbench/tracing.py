"""Tracing for the per-layer run.

Two sources, neither inside the program under test:

* spans the benchmark records around its own calls into each layer's
  public functions (``Tracer``), kept in memory and written out at exit;
* Spark's event log (enabled only in the traced run), whose jobs are
  grouped by job description: ``dm:<run_id>:<stage>`` set by the KG
  pipeline itself, ``bench:<group>[:<id>]`` set by the benchmark.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent span and trace id.
    Disabled tracers record nothing and cost one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"name": name, "trace_id": trace_id or (
            parent["trace_id"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def add_span(self, name: str, start: float, end: float,
                 parent: int) -> int:
        """A child span measured elsewhere (e.g. an event-log job group,
        converted to this process's clock)."""
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "trace_id": self.spans[parent]["trace_id"],
                   "start": start, "end": end}
            self.spans.append(rec)
        return rec["id"]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval that its child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = _union_length(children[s["id"]], s["start"], s["end"])
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(),
                       **(extra or {})}, f, indent=1)


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = ("org.apache.spark.sql.execution.ui."
               "SparkListenerSQLAdaptiveExecutionUpdate")


def job_group(description: str | None) -> str:
    """``dm:<run_id>:<stage>`` -> stage; ``bench:<group>[:<id>]`` ->
    group; a streaming micro-batch (Spark sets ``... batch = <n>``) ->
    ``stream``; anything else -> ``other``."""
    if not description:
        return "other"
    parts = description.split(":")
    if parts[0] == "dm" and len(parts) >= 3:
        return parts[-1]
    if parts[0] == "bench" and len(parts) >= 2:
        return parts[1]
    if "\nbatch = " in description:
        return "stream"
    return "other"


def _python_metric_ids(plan: dict, ids: dict[int, str]) -> None:
    """Accumulator ids of every Python-evaluating plan node (those that
    report 'data sent to Python workers')."""
    names = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if "data sent to Python workers" in names:
        ids[names["data sent to Python workers"]] = "python_bytes"
        ids[names["data returned from Python workers"]] = "python_bytes"
        if "number of output rows" in names:
            ids[names["number of output rows"]] = "python_rows"
    for child in plan.get("children", []):
        _python_metric_ids(child, ids)


def summarize_event_logs(eventlog_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, shuffle/spill/input bytes,
    Python-worker bytes and rows, and the wall interval its jobs cover
    (epoch seconds).  One application log per Spark session."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        if os.path.isdir(path):
            continue
        stage_group: dict[int, str] = {}
        job_group_of: dict[int, str] = {}
        job_start: dict[int, float] = {}
        intervals: dict[str, list] = defaultdict(list)
        py_ids: dict[int, str] = {}
        with open(path) as f:
            events = [json.loads(line) for line in f]
        for ev in events:
            if ev["Event"] in (_SQL_START, _SQL_UPDATE):
                _python_metric_ids(ev["sparkPlanInfo"], py_ids)
        for ev in events:
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = job_group(ev.get("Properties", {}).get(
                    "spark.job.description"))
                job_group_of[ev["Job ID"]] = g
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000
                groups[g]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                intervals[job_group_of[jid]].append(
                    (job_start[jid], ev["Completion Time"] / 1000))
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "other")]
                g["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                g["shuffle_write_bytes"] += m.get(
                    "Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                g["input_bytes"] += m.get("Input Metrics", {}).get(
                    "Bytes Read", 0)
                for acc in ev["Task Info"].get("Accumulables", []):
                    key = py_ids.get(acc.get("ID"))
                    if key is not None and acc.get("Update") is not None:
                        g[key] += int(acc["Update"])
        for g, ivs in intervals.items():
            groups[g]["wall_s"] += _union_length(ivs, float("-inf"),
                                                 float("inf"))
            lo, hi = min(s for s, _ in ivs), max(e for _, e in ivs)
            groups[g]["first_start"] = min(
                groups[g].get("first_start", lo), lo)
            groups[g]["last_end"] = max(groups[g].get("last_end", hi), hi)
    return {g: dict(v) for g, v in groups.items()}
