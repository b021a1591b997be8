"""Tracing for the benchmark: spans, Catalyst phases and the Spark event-log
parser that turns a traced run into per-layer metrics.

Spans are recorded from the benchmark's own code, around its calls into the
engine: one span per operation, with a ``build`` child (the engine call
that returns the result frames, including any eager jobs it fires) and an
``action`` child (collecting those frames). Spans live in memory and are
written out when the run ends.

Each child span runs under its own ``SparkContext.setJobGroup`` tag, so the
event log says which jobs it ran. Catalyst phases come from
``queryExecution().tracker().phases()`` of the collected frames. Everything
a task did (run/CPU/GC time, scan, shuffle, spill, output and the Python
worker's time and bytes) comes from the event log, which Spark writes
uncompressed when the run is started with ``event_log_conf``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1024.0 * 1024.0

_PHASE_RE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")

# task accumulables of Spark's Python runners (names as Spark 4.1 logs them)
PYWORKER_ACCUMS = {
    "time to run Python workers": "pyworker_run_ms",
    "time to start Python workers": "pyworker_boot_ms",
    "time to initialize Python workers": "pyworker_boot_ms",
    "data sent to Python workers": "pyworker_sent_bytes",
    "data returned from Python workers": "pyworker_recv_bytes",
}


def event_log_conf(log_dir: str) -> list[str]:
    """``--conf`` pairs that make Spark write a parseable event log."""
    return [
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir={log_dir}",
        "spark.eventLog.compress=false",
    ]


def parse_phases(text: str) -> dict[str, float]:
    """Seconds per Catalyst phase from the ``toString`` of
    ``QueryPlanningTracker.phases()``, e.g.
    ``Map(planning -> PhaseSummary(1700000000010, 1700000000013), ...)``."""
    return {
        name: (int(end) - int(start)) / 1000.0
        for name, start, end in _PHASE_RE.findall(text)
    }


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    parent: str | None = None
    group: str = ""  # Spark job group of the jobs run inside


@dataclass
class OpRecord:
    """One execution of one operation: its span, its two child spans and
    the Catalyst phases of the frames it collected."""

    pass_no: int
    op: str
    span: Span | None = None
    children: list[Span] = field(default_factory=list)
    phases: dict[str, float] = field(default_factory=dict)


class NullTracer:
    """Untraced runs: operations call the same hooks, which do nothing."""

    @contextmanager
    def op(self, pass_no: int, name: str):
        yield None

    @contextmanager
    def span(self, rec, name: str):
        yield

    def record_phases(self, rec, frames) -> None:
        pass


class Tracer:
    """Spans for a traced run, kept in memory until the run ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.records: list[OpRecord] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def op(self, pass_no: int, name: str):
        rec = OpRecord(pass_no, name)
        start = time.time()
        try:
            yield rec
        finally:
            rec.span = Span(name, start, time.time())
            self.records.append(rec)

    @contextmanager
    def span(self, rec: OpRecord, name: str):
        t = time.perf_counter()
        group = f"p{rec.pass_no}/{rec.op}/{name}"
        self.sc.setJobGroup(group, group)
        self.self_s += time.perf_counter() - t
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            t = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            rec.children.append(Span(name, start, end, rec.op, group))
            self.self_s += time.perf_counter() - t

    def record_phases(self, rec: OpRecord, frames) -> None:
        t = time.perf_counter()
        for df in frames:
            text = df._jdf.queryExecution().tracker().phases().toString()
            for phase, s in parse_phases(text).items():
                rec.phases[phase] = rec.phases.get(phase, 0.0) + s
        self.self_s += time.perf_counter() - t

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(r) for r in self.records], fh, indent=1)


@dataclass
class JobStats:
    """Task-side totals of one Spark job, from the event log."""

    group: str
    start: float  # epoch seconds
    end: float = 0.0
    stages: int = 0
    tasks: int = 0
    sums: dict[str, float] = field(default_factory=lambda: defaultdict(float))


def parse_event_log(lines) -> list[JobStats]:
    """Every job of an event log with its stages' and tasks' totals."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, JobStats] = {}
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job = jobs[e["Job ID"]] = JobStats(group, e["Submission Time"] / 1000.0)
            for sid in e["Stage IDs"]:
                stage_job[sid] = job
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            job = stage_job.get(e["Stage Info"]["Stage ID"])
            if job is not None:
                job.stages += 1
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(e["Stage ID"])
            if job is not None:
                job.tasks += 1
                _add_task(job.sums, e)
    return [jobs[k] for k in sorted(jobs)]


def _add_task(sums: dict[str, float], e: dict) -> None:
    m = e.get("Task Metrics") or {}
    read = m.get("Shuffle Read Metrics") or {}
    written = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    sums["run_ms"] += m.get("Executor Run Time", 0)
    sums["cpu_ns"] += m.get("Executor CPU Time", 0)
    sums["gc_ms"] += m.get("JVM GC Time", 0)
    sums["result_bytes"] += m.get("Result Size", 0)
    sums["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )
    sums["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sums["shuffle_read_bytes"] += read.get("Local Bytes Read", 0) + read.get(
        "Remote Bytes Read", 0
    )
    sums["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    sums["output_bytes"] += written
    sums["output_tasks"] += 1 if written else 0
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        key = PYWORKER_ACCUMS.get(acc.get("Name"))
        if key is not None:
            sums[key] += float(acc.get("Update") or 0)


def read_event_log(log_dir: str, app_id: str) -> list[str]:
    """Every line Spark logged for ``app_id``: the rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` files in order, or one file."""
    files = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    files.sort(key=lambda p: int(re.search(r"events_(\d+)_", p).group(1)))
    if not files:
        files = glob.glob(os.path.join(log_dir, app_id))
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    lines: list[str] = []
    for path in files:
        with open(path) as fh:
            lines.extend(line for line in fh if line.strip())
    return lines


def jobs_of(span: Span, jobs: list[JobStats]) -> list[JobStats]:
    """The jobs a span ran: those tagged with its job group, plus untagged
    jobs submitted inside it. Jobs submitted from a driver thread pool do
    not inherit the caller's job group; in a closed loop with one client
    the submission time still places them in the right span."""
    return [
        j
        for j in jobs
        if j.group == span.group
        or (not j.group and span.start <= j.start <= span.end)
    ]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def pass_layers(
    records: list[OpRecord], jobs: list[JobStats], cores: int
) -> dict[str, float]:
    """Per-layer totals of one pass, given the records of its operations."""
    out: dict[str, float] = defaultdict(float)
    sums: dict[str, float] = defaultdict(float)
    wall = 0.0
    for rec in records:
        op_s = rec.span.end - rec.span.start
        wall += op_s
        out[f"op.{rec.op}_s"] += op_s
        op_jobs: list[JobStats] = []
        for child in rec.children:
            ran = jobs_of(child, jobs)
            op_jobs += ran
            if child.name == "build":
                out["relational.build_s"] += child.end - child.start
                out["relational.build_jobs"] += len(ran)
            else:
                out["exec.collect_s"] += child.end - child.start
                out["exec.collect_jobs"] += len(ran)
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_s"] += rec.phases.get(phase, 0.0)
        for j in op_jobs:
            out["exec.stages"] += j.stages
            out["exec.tasks"] += j.tasks
            for k, v in j.sums.items():
                sums[k] += v
        busy = _covered([(j.start, j.end) for j in op_jobs], rec.span.start, rec.span.end)
        out["driver.nojob_s"] += op_s - busy
    out["exec.task_run_s"] = sums["run_ms"] / 1000.0
    out["exec.task_cpu_s"] = sums["cpu_ns"] / 1e9
    out["exec.gc_s"] = sums["gc_ms"] / 1000.0
    out["exec.slot_util"] = out["exec.task_run_s"] / (cores * wall) if wall else 0.0
    for key in ("scan", "shuffle_read", "shuffle_write", "spill", "result", "output"):
        out[f"exec.{key}_mb"] = sums[f"{key}_bytes"] / MB
    out["exec.output_tasks"] = sums["output_tasks"]
    out["pyworker.run_s"] = sums["pyworker_run_ms"] / 1000.0
    out["pyworker.boot_s"] = sums["pyworker_boot_ms"] / 1000.0
    out["pyworker.sent_mb"] = sums["pyworker_sent_bytes"] / MB
    out["pyworker.recv_mb"] = sums["pyworker_recv_bytes"] / MB
    return dict(out)


def layer_medians(
    records: list[OpRecord], jobs: list[JobStats], cores: int, passes
) -> dict[str, float]:
    """Median over ``passes`` of each per-pass layer total."""
    per_pass = [
        pass_layers([r for r in records if r.pass_no == p], jobs, cores)
        for p in passes
    ]
    keys = sorted({k for d in per_pass for k in d})
    return {k: statistics.median(d.get(k, 0.0) for d in per_pass) for k in keys}
