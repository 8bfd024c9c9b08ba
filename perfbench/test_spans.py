"""Tests of the event-log reducer on a small captured log.

``fixtures/eventlog_small.jsonl`` is the event log of a ``local[2]``
session with the log uncompressed: one job outside any span, then a span
``job`` holding ``job.udf`` (an Arrow UDF round trip, ``to_string`` of
``to_address``) and ``job.shuffle`` (a two-level aggregation).  It is
trimmed to the fields the reducer reads; ``fixtures/spans_small.json``
holds the spans the tracer recorded.

Run from the repository root: ``python -m pytest perfbench``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from spans import (  # noqa: E402
    ADDITIVE,
    GROUP_PREFIX,
    Tracer,
    _covered,
    reduce_event_log,
    span_metrics,
)


@pytest.fixture(scope="module")
def captured():
    events = [json.loads(line) for line in open(HERE / "fixtures" / "eventlog_small.jsonl")]
    tracer = Tracer()
    tracer.spans = json.loads((HERE / "fixtures" / "spans_small.json").read_text())
    return events, tracer, reduce_event_log(events)


def _tasks(events):
    return [e for e in events if e["Event"] == "SparkListenerTaskEnd"]


def test_totals_equal_sum_over_tasks(captured):
    events, _, reduced = captured
    tasks = _tasks(events)
    groups = reduced["groups"].values()
    assert sum(g["spark.tasks"] for g in groups) == len(tasks)
    run = sum(t["Task Metrics"]["Executor Run Time"] for t in tasks) / 1e3
    assert sum(g["spark.executor_run_s"] for g in groups) == pytest.approx(run)
    cpu = sum(t["Task Metrics"]["Executor CPU Time"] for t in tasks) / 1e9
    assert sum(g["spark.executor_cpu_s"] for g in groups) == pytest.approx(cpu)
    written = sum(
        t["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks
    )
    assert sum(g["spark.shuffle_write_bytes"] for g in groups) == written
    sent = sum(
        int(a["Update"])
        for t in tasks
        for a in t["Task Info"]["Accumulables"]
        if a["Name"] == "data sent to Python workers"
    )
    assert sent > 0
    assert sum(g["python.bytes_sent"] for g in groups) == sent


def test_every_job_lands_in_exactly_one_span(captured):
    events, tracer, reduced = captured
    starts = [e["Job ID"] for e in events if e["Event"] == "SparkListenerJobStart"]
    assert sorted(reduced["jobs"]) == sorted(starts)
    span_groups = {GROUP_PREFIX + str(s["id"]) for s in tracer.spans}
    # the jobs outside any span are those of the probe run before the
    # first span opened
    submitted = {e["Job ID"]: e["Submission Time"] for e in events
                 if e["Event"] == "SparkListenerJobStart"}
    outside = [j for j, g in reduced["jobs"].items() if g is None]
    assert outside
    assert all(submitted[j] < tracer.spans[0]["start_ms"] for j in outside)
    assert all(g in span_groups for g in reduced["jobs"].values() if g is not None)
    # each job is counted once, under its own group
    assert sum(g["spark.jobs"] for g in reduced["groups"].values()) == len(starts)
    # the leaf spans hold the work; the parent holds no job of its own
    by_name = {s["name"]: s["id"] for s in tracer.spans}
    own = {n: reduced["groups"].get(GROUP_PREFIX + str(i), {}).get("spark.jobs", 0)
           for n, i in by_name.items()}
    assert own["job"] == 0 and own["job.udf"] > 0 and own["job.shuffle"] > 0


def test_parent_span_sums_its_children(captured):
    _, tracer, reduced = captured
    ids = {s["name"]: s["id"] for s in tracer.spans}
    parent = span_metrics(tracer, reduced, ids["job"])
    kids = [span_metrics(tracer, reduced, ids[n]) for n in ("job.udf", "job.shuffle")]
    for m in ADDITIVE:
        assert parent[m] == pytest.approx(sum(k[m] for k in kids))
    assert parent["spark.task_skew"] == max(k["spark.task_skew"] for k in kids)
    assert kids[0]["python.bytes_sent"] > 0 and kids[1]["python.bytes_sent"] == 0
    assert kids[1]["spark.exchanges"] >= 1
    assert 0 <= parent["spark.driver_gap_s"] <= tracer.spans[ids["job"]]["wall_s"]


def test_covered_merges_and_clips_intervals():
    assert _covered([[0, 2], [1, 3], [5, 6]], 0, 10) == 4
    assert _covered([[0, 2], [1, 3], [5, 6]], 1.5, 5.5) == 2
    assert _covered([], 0, 1) == 0
