"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 18 --trace 0

A closed loop with one client on ``local[4]``: each operation starts only
after the previous one finished. One run

1. sets up ``SETUP_REPS`` times (engine session, seeded input generation,
   table warm-up) and keeps the last session; the first set-up also starts
   the JVM;
2. runs one first pass over the workload's operations;
3. runs ``--seconds / workload.planned_pass_s`` warm passes (at least
   ``MIN_WARM_PASSES``). The count is fixed, not set by the clock: the
   passes still speed up as the JIT warms, so a clock-bound count would
   let a slow host report its median from earlier, slower passes. A pass
   is the sum of each operation's median latency over the warm passes;
4. checks every operation's result after its timed region; a wrong result
   or an exception counts as failed and never aborts the run.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1``. A traced run
also writes its spans and every layer total it measured (including those
that are zero by construction on this workload) to
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 4
MIN_WARM_PASSES = 2
CORES = 4


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _configure_process(work: str, trace: bool) -> None:
    """Keep every file Spark, its JVM and the Python workers write inside
    ``work``, and make the engine importable by the Python workers."""
    from tracing import event_log_conf

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the inputs are small; the engine's 8g default heap would only let the
    # JVM grow further on a machine whose memory other processes share
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={os.path.join(work, 'local')}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # a fixed young generation: G1 otherwise resizes it from pause-time
        # heuristics, and the JVM's peak RSS follows that sizing from run to
        # run more than the memory the engine holds
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xmn256m",
    ]
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf += event_log_conf(os.path.join(work, "events"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"
    )


class Runner:
    def __init__(self, workload, seconds: float, trace: bool, work: str):
        self.wl = workload
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.spark = None
        self.state: dict = {}
        self.attempted = 0
        self.failed = 0
        self.latency: dict[str, list[float]] = {}  # op -> seconds per pass
        self.tracer = None
        self.passes = 0

    # -- set-up -----------------------------------------------------------

    def setup(self) -> list[dict[str, float]]:
        from deepcell_data_engineering_spark.session import get_spark

        reps = []
        for k in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(app_name=f"perfbench-{self.wl.name}", master=f"local[{CORES}]")
            self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            inputs = self.wl.generate(os.path.join(self.work, f"inputs_{k}"))
            t2 = time.perf_counter()
            self.wl.warm(self.spark, inputs)
            t3 = time.perf_counter()
            reps.append({"session": t1 - t0, "generate": t2 - t1, "warmup": t3 - t2})
            log(f"set-up {k}: {t3 - t0:.3f}s (session {t1 - t0:.3f}s, inputs {t2 - t1:.3f}s, warm-up {t3 - t2:.3f}s)")
        self.state = self.wl.state(self.spark, inputs, self.work)
        return reps

    # -- passes -----------------------------------------------------------

    def run_op(self, op, pass_no: int) -> float:
        self.attempted += 1
        frames = []
        t = time.perf_counter()
        try:
            with self.tracer.op(pass_no, op.name) as rec:
                with self.tracer.span(rec, "build"):
                    frames = op.build(self.spark, self.state)
                with self.tracer.span(rec, "action"):
                    results = [df.toPandas() for df in frames]
            elapsed = time.perf_counter() - t
            self.tracer.record_phases(rec, frames)
            err = op.check(self.state, results)
        except Exception:  # an operation's failure is counted, never fatal
            elapsed = time.perf_counter() - t
            err = f"{op.name}: {traceback.format_exc()}"
        finally:
            if op.cleanup is not None:
                op.cleanup(self.spark, self.state)
        if err is not None:
            self.failed += 1
            log(f"FAILED pass {pass_no}: {err}")
        self.latency.setdefault(op.name, []).append(elapsed)
        return elapsed

    def run_pass(self, pass_no: int) -> float:
        times = {op.name: self.run_op(op, pass_no) for op in self.wl.ops()}
        total = sum(times.values())
        log(f"pass {pass_no}: {total:.3f}s " + " ".join(f"{k}={v:.3f}" for k, v in times.items()))
        self.passes = pass_no + 1
        return total

    def measure(self) -> tuple[float, float]:
        from tracing import NullTracer, Tracer

        self.tracer = Tracer(self.spark) if self.trace else NullTracer()
        first = self.run_pass(0)
        warm = max(MIN_WARM_PASSES, int(self.seconds / self.wl.planned_pass_s))
        for k in range(1, 1 + warm):
            self.run_pass(k)
        # a pass is the sum of each operation's median warm latency
        pass_s = sum(statistics.median(v[1:]) for v in self.latency.values())
        return first, pass_s

    def peak_rss_mb(self) -> float:
        python = _vm_hwm_mb("self")
        jvm = _vm_hwm_mb(self.spark.sparkContext._gateway.proc.pid)
        log(f"peak RSS: python {python:.1f} MB, JVM {jvm:.1f} MB")
        return python + jvm

    def layers(self, setups: list[dict[str, float]], first: float, pass_s: float) -> dict[str, float]:
        """Stop the session (which flushes the event log), then reduce the
        spans and the log to per-pass layer medians over the warm passes."""
        from tracing import layer_medians, parse_event_log, read_event_log

        app_id = self.spark.sparkContext.applicationId
        self.stop()
        jobs = parse_event_log(read_event_log(os.path.join(self.work, "events"), app_id))
        out = layer_medians(self.tracer.records, jobs, CORES, range(1, self.passes))
        for part in ("session", "generate", "warmup"):
            out[f"setup.{part}_s"] = statistics.median(r[part] for r in setups)
        out["cold.first_pass_s"] = first
        out["tracing.pass_s"] = pass_s
        out["tracing.self_s"] = self.tracer.self_s / self.passes
        return out

    def stop(self) -> None:
        """Stop Spark, its JVM and its Python workers, and wait for them."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def _metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None, workloads: dict | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    specs = _metric_specs()
    sys.path.insert(0, ROOT)
    # fails here, before any work, when the engine's sources are absent
    import deepcell_data_engineering_spark.session  # noqa: F401

    if workloads is None:
        from workloads import WORKLOADS as workloads
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_process(work, bool(args.trace))

    runner = Runner(workloads[args.workload](args.seed), args.seconds, bool(args.trace), work)
    try:
        setups = runner.setup()
        first, pass_s = runner.measure()
        if args.trace:
            values = runner.layers(setups, first, pass_s)
            trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            stem = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}")
            runner.tracer.dump(stem + ".spans.json")
            with open(stem + ".layers.json", "w") as fh:
                json.dump(values, fh, indent=1, sort_keys=True)
            wanted = specs["per_layer"]
        else:
            values = {
                "setup_s": statistics.median(sum(r.values()) for r in setups),
                "pass_s": pass_s,
                "peak_rss_mb": runner.peak_rss_mb(),
            }
            wanted = specs["end_to_end"]
    finally:
        runner.stop()
        shutil.rmtree(work, ignore_errors=True)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
