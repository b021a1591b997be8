"""Parsers and layer arithmetic of perfbench/tracing.py on canned inputs.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracing import (  # noqa: E402
    OpRecord,
    Span,
    jobs_of,
    layer_medians,
    parse_event_log,
    parse_phases,
    pass_layers,
    read_event_log,
)

PHASES = (
    "Map(planning -> PhaseSummary(1792234722185, 1792234722198), "
    "optimization -> PhaseSummary(1792234722148, 1792234722185), "
    "analysis -> PhaseSummary(1792234722112, 1792234722129))"
)


def _task(stage, run_ms, py_run_ms=0, out_bytes=0):
    acc = [{"ID": 1, "Name": "number of output rows", "Update": "5"}]
    if py_run_ms:
        acc += [
            {"ID": 2, "Name": "time to run Python workers", "Update": str(py_run_ms)},
            {"ID": 3, "Name": "time to start Python workers", "Update": "7"},
            {"ID": 4, "Name": "time to initialize Python workers", "Update": "3"},
            {"ID": 5, "Name": "data sent to Python workers", "Update": "1048576"},
            {"ID": 6, "Name": "data returned from Python workers", "Update": "524288"},
        ]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 500_000,
            "JVM GC Time": 2,
            "Result Size": 1024,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Local Bytes Read": 2048, "Remote Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 4096},
            "Input Metrics": {"Bytes Read": 1048576},
            "Output Metrics": {"Bytes Written": out_bytes},
        },
    }


# Two jobs: job 0 tagged with a build group, job 1 untagged (as a driver
# thread pool submits it) at t=10.5 s; a stage of job 1 that never ran.
EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 0,
        "Submission Time": 10_100,
        "Stage IDs": [0, 1],
        "Properties": {"spark.jobGroup.id": "p1/q/build"},
    },
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    _task(0, 100, py_run_ms=40),
    _task(0, 300),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    _task(1, 200),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 10_400},
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 1,
        "Submission Time": 10_500,
        "Stage IDs": [2, 3],
        "Properties": {},
    },
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    _task(2, 400, out_bytes=2 * 1048576),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 10_900},
]


def test_parse_phases():
    assert parse_phases(PHASES) == {
        "planning": pytest.approx(0.013),
        "optimization": pytest.approx(0.037),
        "analysis": pytest.approx(0.017),
    }
    assert parse_phases("Map()") == {}


def test_parse_event_log_per_job_totals():
    jobs = parse_event_log(json.dumps(e) for e in EVENTS)
    assert [(j.group, j.start, j.end) for j in jobs] == [
        ("p1/q/build", 10.1, 10.4),
        ("", 10.5, 10.9),
    ]
    build, pool = jobs
    assert (build.stages, build.tasks) == (2, 3)
    assert (pool.stages, pool.tasks) == (1, 1)
    assert build.sums["run_ms"] == 600
    assert build.sums["pyworker_run_ms"] == 40
    assert build.sums["pyworker_boot_ms"] == 10  # start + initialize
    assert build.sums["scan_bytes"] == 3 * 1048576
    assert pool.sums["output_bytes"] == 2 * 1048576
    assert pool.sums["output_tasks"] == 1


def test_read_event_log_orders_rolling_files(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = [json.dumps(e) for e in EVENTS]
    (d / "events_10_local-1").write_text("\n".join(lines[6:]) + "\n")
    (d / "events_2_local-1").write_text("\n".join(lines[:6]) + "\n")
    assert read_event_log(str(tmp_path), "local-1") == [line + "\n" for line in lines]
    with pytest.raises(FileNotFoundError):
        read_event_log(str(tmp_path), "local-2")


def test_untagged_jobs_are_placed_by_submission_time():
    jobs = parse_event_log(json.dumps(e) for e in EVENTS)
    build = Span("build", 10.0, 10.45, "q", "p1/q/build")
    action = Span("action", 10.45, 11.0, "q", "p1/q/action")
    assert jobs_of(build, jobs) == [jobs[0]]
    assert jobs_of(action, jobs) == [jobs[1]]


def _record(pass_no, t0):
    rec = OpRecord(pass_no, "q")
    rec.span = Span("q", t0, t0 + 1.0)
    rec.children = [
        Span("build", t0, t0 + 0.45, "q", f"p{pass_no}/q/build"),
        Span("action", t0 + 0.45, t0 + 1.0, "q", f"p{pass_no}/q/action"),
    ]
    rec.phases = parse_phases(PHASES)
    return rec


def test_pass_layers_splits_one_operation():
    jobs = parse_event_log(json.dumps(e) for e in EVENTS)
    out = pass_layers([_record(1, 10.0)], jobs, cores=4)
    assert out["relational.build_s"] == pytest.approx(0.45)
    assert out["exec.collect_s"] == pytest.approx(0.55)
    assert (out["relational.build_jobs"], out["exec.collect_jobs"]) == (1, 1)
    assert (out["exec.stages"], out["exec.tasks"]) == (3, 4)
    # jobs ran 10.1-10.4 and 10.5-10.9 of the op's 10.0-11.0
    assert out["driver.nojob_s"] == pytest.approx(0.3)
    assert out["exec.task_run_s"] == pytest.approx(1.0)
    assert out["exec.task_cpu_s"] == pytest.approx(0.5)
    assert out["exec.slot_util"] == pytest.approx(0.25)
    assert out["exec.scan_mb"] == pytest.approx(4.0)
    assert out["exec.output_mb"] == pytest.approx(2.0)
    assert out["pyworker.run_s"] == pytest.approx(0.04)
    assert out["pyworker.sent_mb"] == pytest.approx(1.0)
    assert out["catalyst.optimization_s"] == pytest.approx(0.037)
    assert out["op.q_s"] == pytest.approx(1.0)


def test_layer_medians_take_the_median_pass():
    jobs = parse_event_log(json.dumps(e) for e in EVENTS)
    records = [_record(1, 10.0), _record(2, 20.0), _record(3, 30.0)]
    out = layer_medians(records, jobs, 4, passes=[1, 2, 3])
    # only pass 1's span holds the logged jobs; the median pass has none
    assert out["relational.build_jobs"] == 0
    assert out["driver.nojob_s"] == pytest.approx(1.0)
    assert out["relational.build_s"] == pytest.approx(0.45)
