"""Tracing for the per-layer run: spans, job-group tags, Catalyst phase
timings, and an event-log parser.

A span covers one call from the benchmark into a layer. While a span is
open, every Spark job it triggers carries the span's job group, so the
event log (written uncompressed, parsed after the run) attributes jobs,
stages, tasks and their metrics to the span. Spans live in memory and are
written out when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

PY_METRICS = ("data sent to Python workers", "data returned from Python workers")
FILES_READ_METRIC = "number of files read"


class Tracer:
    """In-memory spans plus the job-group tag of the innermost open span.

    With ``enabled`` false every method is a no-op, so the untraced run pays
    nothing but a function call per span."""

    def __init__(self, enabled: bool, workload: str):
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self.catalyst_s: dict[int, float] = defaultdict(float)
        self._stack: list[int] = []
        self.sc = None

    @contextmanager
    def span(self, layer: str, name: str, iteration: int):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "layer": layer, "name": name, "workload": self.workload,
            "iteration": iteration, "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"pb:{sid}", f"{self.workload}|{iteration}|{layer}|{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"pb:{parent['id']}", f"{self.workload}|{parent['iteration']}|"
                                    f"{parent['layer']}|{parent['name']}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def plan(self, df) -> None:
        """Record the Catalyst analysis/optimisation/planning time of ``df``
        against the innermost span (forces planning; the action re-plans)."""
        if not self.enabled or not self._stack:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        ms = 0
        while it.hasNext():
            ms += it.next()._2().durationMs()
        self.catalyst_s[self._stack[-1]] += ms / 1000.0

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "catalyst_s": self.catalyst_s.get(s["id"], 0.0)}) + "\n")


COUNTERS = ("tasks", "executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "py_bytes",
            "input_records", "output_bytes", "files_read")


def parse_event_log(log_dir: str) -> list[dict]:
    """Every job in the event logs under ``log_dir``: submit and end time
    (epoch seconds), the span id of its job group (``pb:<id>``, or None),
    stages completed, and the task counters of the stages it ran."""
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    exec_job: dict[int, int] = {}
    accum_name: dict[int, str] = {}

    def plan_metrics(info: dict) -> None:
        for m in info.get("metrics", []):
            accum_name[m["accumulatorId"]] = m["name"]
        for c in info.get("children", []):
            plan_metrics(c)

    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    job = {"submit": e["Submission Time"] / 1000.0, "end": None, "stages": 0,
                           "gid": int(g[3:]) if g.startswith("pb:") else None, **dict.fromkeys(COUNTERS, 0)}
                    jobs[e["Job ID"]] = job
                    for sid in e.get("Stage IDs", []):
                        stage_job.setdefault(sid, e["Job ID"])  # skipped re-listings do not run
                    xid = props.get("spark.sql.execution.id")
                    if xid is not None:
                        exec_job.setdefault(int(xid), e["Job ID"])
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(e["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid, tm = stage_job.get(e["Stage ID"]), e.get("Task Metrics")
                    if jid is None or not tm:
                        continue
                    o = jobs[jid]
                    o["tasks"] += 1
                    o["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    o["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    o["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    o["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    o["input_records"] += tm.get("Input Metrics", {}).get("Records Read", 0)
                    o["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                    for acc in e["Task Info"].get("Accumulables", []):
                        if acc.get("Name") in PY_METRICS:
                            o["py_bytes"] += int(acc.get("Update") or 0)
                elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                    plan_metrics(e.get("sparkPlanInfo", {}))
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    jid = exec_job.get(e["executionId"])
                    for acc_id, value in e["accumUpdates"] if jid is not None else ():
                        if accum_name.get(acc_id) == FILES_READ_METRIC:
                            jobs[jid]["files_read"] += int(value)
    return [j for j in jobs.values() if j["end"] is not None]


def attribute(spans: list[dict], jobs: list[dict]) -> dict[int, dict]:
    """Counters per span id. A job belongs to the span of its job group;
    an untagged job (one started from another thread, as a streaming
    micro-batch is) to the innermost span open when it was submitted."""
    out: dict[int, dict] = defaultdict(lambda: dict.fromkeys(("jobs", "stages") + COUNTERS, 0))
    by_start = sorted(spans, key=lambda s: s["start"])
    for j in jobs:
        sid = j["gid"]
        if sid is None:
            open_ = [s for s in by_start if s["start"] <= j["submit"] <= s["end"]]
            if not open_:
                continue
            sid = open_[-1]["id"]
        o = out[sid]
        o["jobs"] += 1
        for k in ("stages",) + COUNTERS:
            o[k] += j[k]
    return dict(out)


def uncovered(window: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Seconds of ``window`` during which no job was running."""
    lo, hi = window
    covered, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            covered += b - a
            cur = b
    return max(0.0, (hi - lo) - covered)
