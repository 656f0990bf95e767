"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload sql_dedup --seed 1 --seconds 16 --trace 0

Workloads (see perfbench/README.md for what each measures and why):

- ``sql_dedup``: a fixed set of plans.relational / plans.tpch_ext and
  plans.dedup / plans.similarity queries, closed loop, one client;
- ``stream_cdc``: the trade change-detection job (file source ->
  keyed CDC state -> foreachBatch sink), a closed-loop drain and an
  open-loop phase at a fixed file rate.

Inputs are generated from ``--seed`` under ``.bench_build/perfbench``
in the checkout, which the run removes when it ends. With ``--trace 0``
the last stdout line carries the end-to-end metrics; with ``--trace 1``
the run enables Spark's event log, tags every query with a job group,
records spans, and prints the per-layer metrics instead.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.scan_records": "count",
    "sources.scan_ms": "ms",
    "sources.list_ms_p50": "ms",
    "plans.build_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.memo_builds": "count",
    "plans.memo_hits": "count",
    "plans.pass_trend": "ratio",
    "operators.exec_s": "s",
    "operators.task_cpu_s": "s",
    "operators.task_run_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.python_run_s": "s",
    "operators.python_start_s": "s",
    "operators.python_bytes_sent": "bytes",
    "operators.python_bytes_returned": "bytes",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.batch_trend": "ratio",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.state_update_ms_p50": "ms",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.wal_ms_p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_partitions": "count",
    "sink.callback_ms_p50": "ms",
    "gen.late_s_max": "s",
    "gen.backlog_files_end": "count",
    "latency.samples": "count",
    "latency.p90_beyond": "count",
    "trace.overhead_pct": "%",
}


@dataclass
class Run:
    """One benchmark invocation: its arguments, scratch space, tracer
    and the results the workload fills in."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    tracer: object
    spark: object = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    window_ms: tuple[float, float] | None = None
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def fail(self, msg: str) -> None:
        """Record a correctness failure; the run then reports
        `correct: false`."""
        self.errors.append(msg)
        print(f"CHECK FAILED: {msg}", file=sys.stderr, flush=True)

    def start_session(self):
        """Start the engine's session through its public factory. Spark
        keeps its session defaults; only its scratch directory, the
        console progress bar and, when tracing, the event log are
        configured here."""
        from demo_flink_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # temp files in the run directory; no perf-data file in /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
        }
        if self.trace:
            os.makedirs(f"{self.work}/eventlog", exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.work}/eventlog",
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.time()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.start_s"] = time.time() - t0
        return self.spark


def _stop(spark) -> None:
    """Stop the session, then end the JVM that PySpark launched and wait
    for it: the gateway JVM exits when its stdin closes."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _workloads() -> dict:
    import batch
    import stream

    return {
        "sql_dedup": batch.run_batch,
        "stream_cdc": stream.run_stream,
    }


def _code_key() -> str:
    """A digest of the code a run executes: the engine, the oracle
    checker and the benchmark itself. Runs of the same tree share it,
    whether or not the tree is a git checkout."""
    import glob
    import hashlib

    h = hashlib.sha256()
    files = glob.glob(os.path.join(ROOT, "demo_flink_spark", "**", "*.py"), recursive=True)
    files += glob.glob(os.path.join(HERE, "*.py")) + [os.path.join(ROOT, "tools", "oracle_check.py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _baseline_path(args: argparse.Namespace) -> str:
    return os.path.join(
        BUILD, f"untraced-{args.workload}-{args.seed}-{args.seconds:g}-{_code_key()}.json"
    )


def _baseline(args: argparse.Namespace) -> float:
    """The untraced throughput of the same code, workload, seed and run
    length. When no correct untraced run has recorded one, make that run
    now, as a child process, before the traced run starts."""
    import subprocess

    path = _baseline_path(args)
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", f"{args.seconds:g}", "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=True)
    if not os.path.exists(path):
        raise RuntimeError("the untraced run failed its check, so there is no baseline to trace against")
    with open(path) as f:
        return json.load(f)["throughput_per_s"]


def main(argv: list[str]) -> int:
    args = _parse(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    try:
        import demo_flink_spark  # noqa: F401
        import oracle_check  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2

    from spans import Tracer

    # tracing overhead is measured against an untraced run of the same
    # code and seed; a run that failed its check records none. A child
    # run made here does not count as this run's set-up.
    start, base = PROCESS_START, None
    if args.trace:
        t = time.time()
        base = _baseline(args)
        start += time.time() - t
    work = os.path.join(BUILD, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    # Spark's block manager, the JVM and Python temp files stay in the checkout
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tempfile.tempdir = f"{work}/tmp"
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, Tracer(bool(args.trace)))
    try:
        workloads[args.workload](run, start)
        if run.trace:
            run.tracer.dump(os.path.join(BUILD, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        if run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = not run.errors and run.failed == 0
    if run.trace:
        if "throughput_per_s" in run.e2e:
            run.layers["trace.overhead_pct"] = 100.0 * (base - run.e2e["throughput_per_s"]) / base
    elif correct:
        with open(_baseline_path(args), "w") as f:
            json.dump({"throughput_per_s": run.e2e["throughput_per_s"]}, f)

    names = PER_LAYER if run.trace else END_TO_END
    values = run.layers if run.trace else run.e2e
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in names.items()}
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(run.attempted, 1),
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
