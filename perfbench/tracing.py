"""Spans around calls into the engine's layers, and the Spark event-log
counters of the jobs each span started.

A span is opened by the benchmark around a call into one public function of
one package module (``ingest.pages_to_edges``, ``store.save_graph``, ...).
While a traced span is open, every Spark job it starts carries the span's
name as its job description, so the event log attributes the job to the
layer. Spans are kept in memory, summarised when the run ends and printed as one
JSON line.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# Layers reported from the event log; a span name maps to its layer by
# ``layer_of``. Jobs started outside any traced span are not attributed.
EVENT_LAYERS = (
    "ingest",
    "graph",
    "store",
    "operators.pagerank",
    "checkpoint",
    "operators.wcc",
    "operators.lpa",
    "operators.triangles",
)
EVENT_COUNTERS = (
    ("jobs", "count"),
    ("tasks", "count"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("spill_mb", "MB"),
    ("gc_s", "s"),
    ("cpu_s", "s"),
    ("failed_tasks", "count"),
    ("slot_idle_frac", "frac"),
)
PYTHON_SENT = "data sent to Python workers"
MB = 1e6


def layer_of(span_name: str) -> str:
    """``operators.pagerank`` -> ``operators.pagerank``; ``ingest.x`` -> ``ingest``."""
    parts = span_name.split(".")
    return ".".join(parts[:2]) if parts[0] == "operators" else parts[0]


class Tracer:
    """Records spans (name, start, end, parent, run id) when enabled; a
    disabled tracer only times the outermost job span, so untraced runs pay
    for no job descriptions and no bookkeeping."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(self._stack[-1]["name"] if self._stack else None)

    def self_times(self, root_ids: set) -> dict:
        """Per-layer self time (span minus the part its children cover),
        summed over the spans under the given root spans."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict = defaultdict(float)

        def walk(s):
            covered = sum(c["end"] - c["start"] for c in children[s["id"]])
            out[layer_of(s["name"])] += (s["end"] - s["start"]) - covered
            for c in children[s["id"]]:
                walk(c)

        for s in self.spans:
            if s["id"] in root_ids:
                walk(s)
        return dict(out)

    def span_total(self, name: str, root_id: int) -> float:
        """Summed duration of the spans called ``name`` under one root span."""
        by_id = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            top = s
            while top["parent"] is not None:
                top = by_id[top["parent"]]
            if top["id"] == root_id:
                total += s["end"] - s["start"]
        return total


def _event_files(evlog_dir: str) -> list:
    """Event-log files in write order; Spark 4 rolls them into
    ``eventlog_v2_<app>/events_<n>_<app>`` by default."""
    found = []
    for root, _dirs, files in os.walk(evlog_dir):
        for f in files:
            m = re.match(r"events_(\d+)_", f)
            if m:
                found.append((root, int(m.group(1)), f))
            elif not f.startswith((".", "appstatus")) and root == evlog_dir:
                found.append((root, 0, f))
    return [os.path.join(r, f) for r, _n, f in sorted(found)]


def event_log_layers(evlog_dir: str, cores: int, layer_wall: dict, reps: int) -> dict:
    """Fold the (uncompressed) event log into per-layer counters, averaged
    per traced repetition. ``layer_wall`` maps a layer to its summed self
    time over those repetitions, the span against which slot idleness is
    measured."""
    stage_desc: dict = {}
    acc = {layer: defaultdict(float) for layer in EVENT_LAYERS}
    for path in _event_files(evlog_dir):
        with open(path, errors="ignore") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                    layer = layer_of(desc) if desc else None
                    if layer in acc:
                        acc[layer]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    stage_desc[ev["Stage Info"]["Stage ID"]] = desc
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev["Stage ID"])
                    layer = layer_of(desc) if desc else None
                    if layer not in acc:
                        continue
                    a = acc[layer]
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    a["tasks"] += 1
                    a["failed_tasks"] += 1 if info.get("Failed") else 0
                    a["task_ms"] += info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    a["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / MB
                    rd = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_mb"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    ) / MB
                    wr = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / MB
                    for u in info.get("Accumulables", []):
                        if u.get("Name") == PYTHON_SENT:
                            a["python_mb"] += float(u.get("Update", 0)) / MB
    out = {}
    n = max(reps, 1)
    for layer in EVENT_LAYERS:
        a = acc[layer]
        wall = layer_wall.get(layer, 0.0)
        busy = a["task_ms"] / 1e3
        for key, unit in EVENT_COUNTERS:
            if key == "slot_idle_frac":
                val = 1.0 - busy / (cores * wall) if wall > 0 else 0.0
            else:
                val = a[key] / n
            out[f"{layer}.{key}"] = (val, unit)
    out["ingest.python_mb"] = (acc["ingest"]["python_mb"] / n, "MB")
    return out


def median(xs: list) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(xs: list, q: float) -> float:
    """Nearest-rank quantile; 0 for an empty list."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]
