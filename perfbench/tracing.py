"""Spans around the benchmark's calls into the engine, and Spark's own counters.

Spans are recorded only from the benchmark's side of each call: session
start and warm-up, ``sources.tables.load_table``, query build, Catalyst
planning, and the ``noop`` write that executes the plan. Every span opened
with ``Tracer.span`` sets the Spark job group to its own id while it is
open, so each job Spark runs can later be attributed to the innermost span
that caused it, both through ``SparkContext.statusTracker`` and through the
event log.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Spans are plain dicts, written out at the end."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @property
    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, layer: str, query: str | None = None):
        parent = self.current
        self._next += 1
        s = {
            "id": f"s{self._next}",
            "parent": parent["id"] if parent else None,
            "name": name,
            "layer": layer,
            # spans of one query execution share its query span's id
            "trace": parent["trace"] if parent and parent["trace"] else None,
            "query": query or (parent["query"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        if layer == "query":
            s["trace"] = s["id"]
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s["id"])
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.current["id"] if self.current else None)

    def add(self, name: str, layer: str, start: float, end: float) -> None:
        """Record a finished top-level span, timed before the tracer existed."""
        self._next += 1
        self.spans.append({"id": f"s{self._next}", "parent": None, "name": name,
                           "layer": layer, "trace": None, "query": None,
                           "start": start, "end": end})

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def with_self_times(self) -> list[dict]:
        """Each span plus its duration and self time: the duration minus the
        part of its interval that its children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out = []
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            dur = s["end"] - s["start"]
            out.append({**s, "duration_s": dur, "self_s": dur - covered})
        return out


def status_counts(sc, groups) -> dict[str, dict[str, int]]:
    """Jobs, stages, completed tasks and failed tasks per job group, read
    from the status tracker after the listener bus has drained."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    out = {}
    for g in groups:
        jobs = stages = tasks = failed = 0
        for j in st.getJobIdsForGroup(g):
            info = st.getJobInfo(j)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped stage: its output was reused
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        out[g] = {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}
    return out


_PY_METRICS = {
    "time to run Python workers": "python_run",
    "data sent to Python workers": "python_sent",
    "data returned from Python workers": "python_returned",
}


def _plan_metrics(node, types: dict, scans: set) -> None:
    is_scan = node.get("nodeName", "").startswith("Scan ")
    for m in node.get("metrics", []):
        types[m["accumulatorId"]] = m["metricType"]
        if is_scan and m["name"] == "number of output rows":
            scans.add(m["accumulatorId"])
    for c in node.get("children", []):
        _plan_metrics(c, types, scans)


def _seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: task run and CPU time, shuffle bytes, scan rows and the Python-worker SQL metrics, summed over the
    tasks of every job started under that group."""
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    types: dict[int, str] = {}
    scans: set[int] = set()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(e)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(e["sparkPlanInfo"], types, scans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for e in tasks:
        g = stage_group.get(e["Stage ID"])
        m = e.get("Task Metrics")
        if g is None or m is None:
            continue
        acc = out[g]
        acc["run_s"] += m["Executor Run Time"] / 1e3
        acc["cpu_s"] += m["Executor CPU Time"] / 1e9
        acc["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        r = m["Shuffle Read Metrics"]
        acc["shuffle_read_bytes"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
        for a in e["Task Info"].get("Accumulables", []):
            try:
                upd = float(a.get("Update"))
            except (TypeError, ValueError):
                continue
            key = _PY_METRICS.get(a.get("Name"))
            if key is not None:
                if key == "python_run":
                    acc[key + "_s"] += _seconds(upd, types.get(a["ID"], "nsTiming"))
                else:
                    acc[key + "_bytes"] += upd
            elif a["ID"] in scans:
                acc["scan_rows"] += upd
    return out
