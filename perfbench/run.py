"""The engine's benchmark: one workload per run, or all of them.

    python3 perfbench/run.py --workload batch_analytics --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6 --trace 1

Run from the repository root. Inputs are generated from ``--seed``
under ``.bench_build/perfbench``; the engine sees only those files.
Human-readable lines come first; the last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The exit code is 0 only when every
operation succeeded and every output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "real_time_event_streaming_pipeline_spark"
WORKLOADS = ("batch_analytics", "stream_ingest")
sys.path.insert(0, HERE)

from procs import RssSampler, host_steal_s, tree_pids  # noqa: E402
from tracing import Tracer  # noqa: E402


def host_env(work: str) -> dict[str, str]:
    """Session sizing for the host this runs on, passed through the
    engine's own environment knobs: every core, a driver heap of 40% of
    physical memory (at most the engine's 16g default), Spark scratch
    and temp files inside the work dir, and the repository on
    PYTHONPATH so Python UDF workers can import the engine."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    mem_gb = max(1, min(16, int(kib / 1024 / 1024 * 0.4)))
    pythonpath = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": pythonpath,
        "TMPDIR": os.path.join(work, "tmp"),
    }


# -- session ------------------------------------------------------------------


class Bench:
    """One run's shared state: session, inputs, tracer and tallies."""

    def __init__(self, args, work: str, env: dict[str, str]) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.env = env
        self.cores = int(env["SPARK_GRAFT_CPUS"])
        self.spark = None
        self.tracer = None
        self.layers: dict[str, float] = {}
        self.named: dict[str, tuple[float, str]] = {}
        self.notes: list[str] = []
        self._t0 = time.perf_counter()

    def mark(self, label: str) -> None:
        """Log the run's timeline to stderr: seconds since the run began."""
        print(f"[{time.perf_counter() - self._t0:7.2f}s] {label}", file=sys.stderr, flush=True)

    def spark_conf(self) -> dict[str, str]:
        tmp = self.env["TMPDIR"]
        return {
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp files in the work dir and its perf-data file out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }

    def start_session(self) -> None:
        """Start the session: from the engine's import (the first engine
        code this process runs; the benchmark's own imports and input
        generation come before it) until the session has run one SQL
        query. This is ``session.start_s``."""
        t0 = time.perf_counter()
        from real_time_event_streaming_pipeline_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=self.spark_conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.sql("SELECT 1").collect()
        self.layers["session.start_s"] = time.perf_counter() - t0
        self.mark("session ready")
        self.tracer = Tracer(self.spark, self.trace)

    def warmed(self, warmup_s: float) -> None:
        """Record the workload's untimed warm-up, which ends set-up:
        ``setup_s`` is ``session.start_s`` + ``session.warmup_s``."""
        self.layers["session.warmup_s"] = warmup_s
        self.setup_s = self.layers["session.start_s"] + warmup_s
        self.named["setup_s"] = (self.setup_s, "s")
        self.mark(f"warm-up done, set-up {self.setup_s:.2f} s")

    def shutdown(self) -> None:
        """Stop the session and the JVM it runs in, and wait for both."""
        if self.tracer is not None:
            self.tracer.close()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _reap_children(timeout: float = 20.0) -> None:
    """Wait for every process this run started to end; after ``timeout``
    seconds kill the stragglers and give them a few more to go."""
    import signal

    deadline, killed = time.monotonic() + timeout, False
    while True:
        left = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                print(f"processes still alive after SIGKILL: {left}", file=sys.stderr)
                return
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline, killed = time.monotonic() + 5.0, True
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


# -- output -------------------------------------------------------------------

# End-to-end metrics every workload reports (BENCHMARK.json). setup_s is
# session start plus warm-up. latency_ms is the geomean wall of one
# operation (a REST read or a face) on batch_analytics and the median
# event latency on stream_ingest. ops_per_s is operations per second of
# timed wall there, and here events delivered to all four sinks per second
# from the first measured file's creation to the last one's commit.
END_TO_END = {"setup_s": "s", "latency_ms": "ms", "ops_per_s": "1/s"}


def run_one(args) -> int:
    import importlib

    work = os.path.join(ROOT, ".bench_build", "perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = host_env(work)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS", "PYTHONPATH"):
        print(f"env {k}={env[k]}")
    sys.path.insert(0, ROOT)

    bench = Bench(args, work, env)
    module = importlib.import_module(f"w_{args.workload}")
    rss = RssSampler()
    steal0, t0 = host_steal_s(), time.perf_counter()
    try:
        result = module.run(bench)
    finally:
        peak_mb = rss.stop()
        # the share of this machine's CPU time the host gave to others
        steal_frac = (host_steal_s() - steal0) / ((time.perf_counter() - t0) * bench.cores)
        bench.mark("workload done")
        bench.shutdown()
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
        bench.mark("shut down")
    tally = result["tally"]
    bench.named["peak_rss_mb"] = (peak_mb, "MB")
    bench.named["failed_frac"] = (tally.failed_frac, "ratio")
    bench.named["host_steal_frac"] = (steal_frac, "ratio")
    for name, (value, unit) in bench.named.items():
        print(f"{args.workload}.{name} = {value:.6g} {unit}")
    for reason in tally.reasons[:20]:
        print(f"FAILED {reason}")
    for note in bench.notes:
        print(f"note: {note}")
    if bench.trace:
        layers = {**bench.layers, **result["layers"], "mem.peak_rss_mb": peak_mb}
        metrics = {k: {"value": layers.get(k, 0), "unit": _unit_of(k)} for k in layer_names()}
    else:
        generic = {"setup_s": bench.setup_s, **result["generic"]}
        metrics = {k: {"value": generic[k], "unit": u} for k, u in END_TO_END.items()}
    correct = tally.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def layer_names() -> list[str]:
    """Every per-layer metric (BENCHMARK.json ``per_layer``). A traced run
    reports all of them; a layer a workload does not use reads 0."""
    from w_batch_analytics import ENDPOINTS, FACES
    from w_stream_ingest import PHASES, QUERIES

    names = [
        "session.start_s", "session.warmup_s",
        "catalog.load_ms", "catalog.load_calls", "catalog.memo_hit_ratio",
        "plans.build_ms", "plans.build_jobs",
    ]
    for ep in ENDPOINTS:
        names += [f"endpoint.{ep}.build_ms", f"endpoint.{ep}.exec_ms"]
    names += [
        "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
        "spark.collect_ms", "spark.driver_serial_ms", "spark.peak_exec_mem_bytes",
    ]
    for face in FACES:
        names += [f"face.{face}.{m}" for m in ("build_ms", "exec_ms", "shuffle_bytes", "spill_bytes")]
    names += ["gen.lateness_ms", "source.backlog_files"]
    for q in QUERIES:
        names += [f"stream.{q}.{p}_ms" for p in PHASES]
        names += [f"stream.{q}.trigger_ms", f"stream.{q}.batches"]
    names += [
        "tx.upsert_ms", "tx.commits", "tx.retries", "tx.files_per_commit", "sinks.append_ms",
        "state.rows_total", "state.memory_bytes", "state.commit_ms", "state.rows_dropped_by_watermark",
        "mem.peak_rss_mb", "cpu.per_op_ms", "trace.latency_ms",
    ]
    return names


def _unit_of(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_bytes", "bytes"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def run_all(args) -> int:
    """Every workload in its own process; with --trace 1 each also runs
    untraced, and the tracing overhead is the difference in latency_ms."""
    rc, summary = 0, {}
    for w in WORKLOADS:
        for trace in ([0, 1] if args.trace else [0]):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
                   str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            out = subprocess.run(cmd, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            for line in lines[:-1]:
                print(line)
            if out.returncode != 0 or not lines:
                print(out.stderr[-4000:], file=sys.stderr)
                rc = rc or out.returncode or 1
            if lines:
                summary[(w, trace)] = json.loads(lines[-1])
    if args.trace:
        for w in WORKLOADS:
            try:
                untraced = summary[(w, 0)]["metrics"]["latency_ms"]["value"]
                traced = summary[(w, 1)]["metrics"]["trace.latency_ms"]["value"]
            except KeyError:
                continue
            print(f"{w}.trace_overhead_ms = {traced - untraced:.6g} ms")
    runs = list(summary.values())
    print(json.dumps({
        "correct": bool(runs) and all(r["correct"] for r in runs) and rc == 0,
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": {f"{w}.{k}": v for (w, t), r in summary.items() for k, v in r["metrics"].items()},
    }))
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: engine package {PACKAGE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
