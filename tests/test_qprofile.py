"""The per-query profiler (tools/qprofile.py): its event-log attribution
rules on a handcrafted log, one end-to-end run, and the tools' freedom from
hard-coded checkout paths."""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))

import qprofile  # noqa: E402

from conftest import SF_DIR  # noqa: E402

# construct 1000.0-1002.0 s, action 1002.0-1003.0 s (epoch seconds)
WINDOWS = {("q", 0, "construct"): (1000.0, 1002.0), ("q", 0, "action"): (1002.0, 1003.0)}


def _job(jid, ms, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": ms,
            "Stage IDs": stages, "Properties": props}


def _task(stage, ms, run_ms, accumulables=()):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": ms, "Accumulables": list(accumulables)},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                             "Input Metrics": {"Bytes Read": 2 * 10**6},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 10**6}}}


def _stage(sid, submitted, completed):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Name": f"s{sid}",
                           "Submission Time": submitted, "Completion Time": completed}}


EVENTS = [
    _job(0, 999_000, [0]),  # warm-up: outside every window
    _task(0, 999_100, 500),
    _stage(0, 999_050, 999_600),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 999_600},
    _job(1, 1_000_500, [1]),  # an eager job in the construction window
    _task(1, 1_000_510, 100, [
        {"Name": "time to start Python workers", "Update": "250"},
        {"Name": "time to run Python workers", "Update": "400"},
        {"Name": "data sent to Python workers", "Update": "9999"},
    ]),
    _stage(1, 1_000_505, 1_000_900),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_001_000},
    # a streaming micro-batch job: its own job group, same window
    _job(2, 1_000_800, [2, 3], group="5f0c-run-id"),
    _task(3, 1_000_810, 50),
    _task(3, 1_000_820, 50),
    _stage(2, None, None),  # skipped stage: never ran
    _stage(3, 1_000_805, 1_001_400),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1_001_500},
    {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
     "progress": {"timestamp": "1970-01-01T00:16:40.700Z", "batchId": 0,
                  "durationMs": {"addBatch": 600, "triggerExecution": 800},
                  "sources": [{"numInputRows": 7}],
                  "stateOperators": [{"numRowsTotal": 3, "commitTimeMs": 40,
                                      "customMetrics": {"x": 1}}]}},
    _job(3, 1_002_200, [4]),  # the final action
    _task(4, 1_002_210, 300),
    _stage(4, 1_002_205, 1_002_600),
    {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 1_002_600},
]


def test_attribution_by_wall_clock_window():
    parsed = qprofile.attribute(EVENTS, WINDOWS)
    con, act = parsed[("q", 0, "construct")], parsed[("q", 0, "action")]
    # the streaming job counts towards construction despite its job group;
    # the warm-up job counts nowhere
    assert (con["jobs"], con["stages"], con["tasks"]) == (2, 2, 3)
    assert (act["jobs"], act["stages"], act["tasks"]) == (1, 1, 1)
    assert con["run_s"] == pytest.approx(0.2)
    assert con["cpu_s"] == pytest.approx(0.2)
    assert con["input_mb"] == pytest.approx(6.0)
    assert con["python_start_s"] == pytest.approx(0.25)
    assert con["python_run_s"] == pytest.approx(0.4)
    assert act["python_start_s"] == act["python_run_s"] == 0
    assert [r["stage"] for r in con["stage_rows"]] == [1, 3]
    assert con["stage_rows"][1]["tasks"] == 2
    assert con["microbatches"] == [{
        "batchId": 0, "numInputRows": 7,
        "durationMs": {"addBatch": 600, "triggerExecution": 800},
        "stateOperators": [{"numRowsTotal": 3, "commitTimeMs": 40}],
    }]
    assert act["microbatches"] == []

    rec = qprofile.record("q", 1, WINDOWS, parsed)
    assert rec["eager_jobs"] == 2
    # jobs 1 and 2 overlap: 1000.5-1001.0 and 1000.8-1001.5 cover 1.0 s
    assert rec["eager_s"] == pytest.approx(1.0)
    assert (rec["jobs"], rec["stages"], rec["tasks"]) == (3, 3, 4)
    assert [(r["phase"], r["stage"]) for r in rec["stage_rows"]] == [
        ("construct", 1), ("construct", 3), ("action", 4)]


def test_record_divides_counts_by_runs_and_takes_min_walls():
    windows = {("q", 0, "construct"): (1000.0, 1000.9), ("q", 0, "action"): (1000.9, 1001.3),
               ("q", 1, "construct"): (1010.0, 1010.7), ("q", 1, "action"): (1010.7, 1011.2)}
    events = [_job(j, 1_000_500 + 10_000 * j, [j]) for j in range(2)]
    events += [_task(j, 1_000_600 + 10_000 * j, 100) for j in range(2)]
    rec = qprofile.record("q", 2, windows, qprofile.attribute(events, windows))
    assert (rec["construct_s"], rec["action_s"]) == (0.7, 0.4)
    assert rec["eager_jobs"] == rec["jobs"] == rec["tasks"] == 1
    assert rec["run_s"] == pytest.approx(0.1)


RECORD_KEYS = {
    "query", "runs", "construct_s", "action_s", "eager_jobs", "eager_s",
    *qprofile.FIELDS, "stage_rows", "microbatches",
}


def test_qprofile_smoke():
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g"}
    out = subprocess.run(
        [sys.executable, os.path.join(_ROOT, "tools", "qprofile.py"), "-n", "1", "--sf", SF_DIR,
         "sort_limit", "streaming_window_counts"],
        capture_output=True, text=True, env=env, cwd=_ROOT, timeout=600, check=True,
    ).stdout
    records = {r["query"]: r for r in map(json.loads, out.splitlines())}
    assert list(records) == ["sort_limit", "streaming_window_counts"]
    for rec in records.values():
        assert set(rec) == RECORD_KEYS
        assert rec["runs"] == 1 and rec["jobs"] >= 1 and rec["stage_rows"]
    stream = records["streaming_window_counts"]
    assert stream["eager_jobs"] >= 1
    assert len(stream["microbatches"]) >= 1
    assert all(mb["phase"] == "construct" for mb in stream["microbatches"])


def test_tools_do_not_hard_code_a_checkout():
    """Tools find the checkout from their own location, so one run from a
    second checkout (an A/B copy) imports and writes that checkout only."""
    for path in glob.glob(os.path.join(_ROOT, "tools", "*.py")) + glob.glob(
            os.path.join(_ROOT, "tools", "*.sh")):
        text = open(path).read()
        assert _ROOT not in text, path
        assert not re.search(r"sys\.path\.insert\(0, [\"']/", text), path
