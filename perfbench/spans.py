"""Spans for the traced run, and the reducer that turns a Spark event
log into per-span engine and JVM<->Python crossing metrics.

A span is opened around each call into a package layer.  While it is
open, its id is the Spark job group of the calling thread, so every
job the call starts carries the span's id in its properties; after the
session stops, :func:`reduce_event_log` attributes each job, stage and
task to the innermost span that was open when the job was submitted.
Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

GROUP_PREFIX = "perfbench-span-"

# SQL metrics of the Python evaluation nodes (ArrowEvalPython,
# MapInPandas, ...), summed over tasks: name -> (metric, scale)
PYTHON_ACCUMULABLES = {
    "data sent to Python workers": ("python.bytes_sent", 1),
    "data returned from Python workers": ("python.bytes_returned", 1),
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
}

# metrics that sum over tasks and over child spans; span_metrics adds
# spark.task_skew (a max) and spark.driver_gap_s (from job intervals)
ADDITIVE = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.exchanges",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.output_bytes",
] + [m for m, _ in PYTHON_ACCUMULABLES.values()]


class Tracer:
    """Records spans; with a SparkContext, labels jobs by span.

    ``kernel_times`` is an optional callable returning cumulative
    Python-kernel seconds per UDF id; each span stores the kernel time
    spent while it was open (children included)."""

    def __init__(self, sc=None, kernel_times=None):
        self.sc = sc
        self.kernel_times = kernel_times
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _label(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(GROUP_PREFIX + str(sid), self.spans[sid]["name"])

    def _kernel_total(self) -> float:
        return sum(self.kernel_times().values()) if self.kernel_times else 0.0

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start_ms": time.time() * 1000.0,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._label(sid)
        k0 = self._kernel_total()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1000.0
            rec["kernel_s"] = self._kernel_total() - k0
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)

    def find(self, name: str, within: int | None = None) -> dict | None:
        """The last span with this name, optionally only under span
        ``within``."""
        ids = set(self.subtree(within)) if within is not None else None
        for rec in reversed(self.spans):
            if rec["name"] == name and (ids is None or rec["id"] in ids):
                return rec
        return None

    def subtree(self, sid: int) -> list[int]:
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s["id"])
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(kids[cur])
        return out


def read_event_log(log_dir: Path, app_id: str) -> list[dict]:
    """Events of one application from an uncompressed event log, plain
    or rolling (``eventlog_v2_<app>/events_<n>_<app>``)."""
    files = [p for p in Path(log_dir).glob(f"*{app_id}*") if p.is_file()]
    for d in Path(log_dir).glob(f"eventlog_v2_{app_id}*"):
        files += sorted(
            (p for p in d.glob("events_*") if p.is_file()),
            key=lambda p: int(p.name.split("_")[1]),
        )
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _count_exchanges(plan: dict) -> int:
    n = 1 if plan.get("nodeName") == "Exchange" else 0
    return n + sum(_count_exchanges(c) for c in plan.get("children", []))


def reduce_event_log(events: list[dict]) -> dict:
    """Per job group: additive engine metrics, the worst stage's task
    skew and the job intervals.  Returns
    ``{"groups": {group: {...}}, "jobs": {job_id: group}}``; jobs
    submitted outside any group fall under the ``None`` key."""
    job_group: dict[int, str | None] = {}
    job_iv: dict[int, list[float]] = {}
    stage_group: dict[int, str | None] = {}
    exec_group: dict[int, str | None] = {}
    plans: dict[int, dict] = {}
    run_ms: dict[int, list[float]] = defaultdict(list)
    acc: dict = defaultdict(lambda: defaultdict(float))

    for e in events:
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            jid = e["Job ID"]
            job_group[jid] = g
            job_iv[jid] = [e["Submission Time"], e["Submission Time"]]
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                exec_group.setdefault(int(xid), g)
            acc[g]["spark.jobs"] += 1
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in job_iv:
                job_iv[e["Job ID"]][1] = e["Completion Time"]
        elif ev == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            sid = e["Stage Info"]["Stage ID"]
            if "spark.jobGroup.id" in props or sid not in stage_group:
                stage_group[sid] = props.get("spark.jobGroup.id")
            acc[stage_group[sid]]["spark.stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            g = stage_group.get(sid)
            m = e.get("Task Metrics") or {}
            a = acc[g]
            a["spark.tasks"] += 1
            run = m.get("Executor Run Time", 0)
            run_ms[sid].append(run)
            a["spark.executor_run_s"] += run / 1e3
            a["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            a["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            a["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            a["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            a["spark.output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for u in (e.get("Task Info") or {}).get("Accumulables", []):
                hit = PYTHON_ACCUMULABLES.get(u.get("Name"))
                if hit and u.get("Update") is not None:
                    a[hit[0]] += float(u["Update"]) * hit[1]
        elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            plans[int(e["executionId"])] = e["sparkPlanInfo"]

    for xid, plan in plans.items():
        acc[exec_group.get(xid)]["spark.exchanges"] += _count_exchanges(plan)
    skew: dict = defaultdict(float)
    for sid, runs in run_ms.items():
        med = statistics.median(runs)
        if len(runs) >= 2 and med > 0:
            g = stage_group.get(sid)
            skew[g] = max(skew[g], max(runs) / med)
    groups = {}
    for g in set(acc) | set(skew):
        d = {m: float(acc[g].get(m, 0.0)) for m in ADDITIVE}
        d["spark.task_skew"] = skew.get(g, 0.0)
        d["intervals"] = [job_iv[j] for j, jg in job_group.items() if jg == g]
        groups[g] = d
    return {"groups": groups, "jobs": job_group}


def span_metrics(tracer: Tracer, reduced: dict, sid: int) -> dict:
    """Engine metrics of span ``sid`` and all its children."""
    ids = tracer.subtree(sid)
    out = {m: 0.0 for m in ADDITIVE}
    skew = 0.0
    intervals = []
    for i in ids:
        g = reduced["groups"].get(GROUP_PREFIX + str(i))
        if g is None:
            continue
        for m in ADDITIVE:
            out[m] += g[m]
        skew = max(skew, g["spark.task_skew"])
        intervals += g["intervals"]
    out["spark.task_skew"] = skew
    s = tracer.spans[sid]
    out["spark.driver_gap_s"] = max(
        0.0, (s["end_ms"] - s["start_ms"] - _covered(intervals, s["start_ms"], s["end_ms"])) / 1e3
    )
    return out


def _covered(intervals: list[list[float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
