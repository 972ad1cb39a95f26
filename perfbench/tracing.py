"""Per-layer tracing for traced runs (``--trace 1``).

Everything here observes the engine from outside: job groups and
Spark's status store for scheduling and executor figures,
``StreamingQueryProgress`` for micro-batch phases, and timers wrapped
around public entry points of the engine's modules. Nothing in the
engine package is edited; wrappers are installed on the module
attributes at run time and removed by ``Tracer.close``.
"""

from __future__ import annotations

import contextlib
import sys
import threading
import time
from collections import defaultdict

from stats import median


class Timers:
    """Wall-time samples and counters keyed by layer metric name."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, int] = defaultdict(int)

    def add(self, name: str, seconds: float) -> None:
        with self._lock:
            self.samples[name].append(seconds)

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def clear(self) -> None:
        """Drop what was recorded so far, e.g. during a warm-up."""
        with self._lock:
            self.samples.clear()
            self.counts.clear()

    def median_ms(self, name: str) -> float:
        xs = self.samples.get(name)
        return median(xs) * 1000.0 if xs else 0.0


def _rebind(package: str, original, replacement) -> list:
    """Point every ``package`` module attribute bound to ``original`` at
    ``replacement`` (modules import engine functions by name, so
    patching only the defining module would miss those call sites).
    Returns the (module, attr) pairs changed, for undoing."""
    changed = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                changed.append((mod, attr))
    return changed


class Tracer:
    """Collects the per-layer figures of one run. With ``enabled=False``
    every hook is a no-op, so untraced runs pay nothing."""

    PACKAGE = "real_time_event_streaming_pipeline_spark"

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.timers = Timers()
        self.ops: list[dict] = []
        self._undo: list[tuple] = []
        self._seen_loads: dict[tuple, int] = {}
        self._n = 0
        if enabled:
            self._install()

    # -- wrappers around public entry points ---------------------------------

    def _install(self) -> None:
        from real_time_event_streaming_pipeline_spark import catalog
        from real_time_event_streaming_pipeline_spark.streaming import pipeline, tx_table

        timers = self.timers
        seen = self._seen_loads

        orig_load = catalog.load

        def load(spark, sf_dir, name):
            t0 = time.perf_counter()
            df = orig_load(spark, sf_dir, name)
            timers.add("catalog.load", time.perf_counter() - t0)
            # a memo hit hands back the very DataFrame of the previous call
            key = (sf_dir, name)
            if seen.get(key) == id(df):
                timers.count("catalog.memo_hits")
            seen[key] = id(df)
            return df

        orig_upsert = tx_table.upsert

        def upsert(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig_upsert(*args, **kwargs)
            finally:
                timers.add("tx.upsert", time.perf_counter() - t0)

        orig_commit = tx_table._commit

        def commit(*args, **kwargs):
            try:
                out = orig_commit(*args, **kwargs)
            except tx_table.CommitConflict:
                timers.count("tx.retries")
                raise
            timers.count("tx.commits")
            return out

        orig_append = pipeline.append_parquet

        def append_parquet(out_dir):
            write = orig_append(out_dir)

            def timed(batch, epoch_id):
                t0 = time.perf_counter()
                try:
                    write(batch, epoch_id)
                finally:
                    timers.add("sinks.append", time.perf_counter() - t0)

            return timed

        for orig, repl in (
            (orig_load, load),
            (orig_upsert, upsert),
            (orig_commit, commit),
            (orig_append, append_parquet),
        ):
            self._undo += [(m, a, orig) for m, a in _rebind(self.PACKAGE, orig, repl)]

    def close(self) -> None:
        for mod, attr, orig in self._undo:
            setattr(mod, attr, orig)
        self._undo = []

    # -- job groups and the status store ------------------------------------

    @contextlib.contextmanager
    def phase(self, rec: dict, name: str):
        """Time one phase of an operation (``build`` or ``exec``) under
        its own job group, recording its wall seconds into ``rec``."""
        group = None
        if self.enabled:
            self._n += 1
            group = f"perfbench-{self._n}"
            self.spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec[name + "_s"] = time.perf_counter() - t0
            if group is not None:
                rec.setdefault("groups", {})[name] = group

    def finish_op(self, rec: dict) -> None:
        """Attach job, stage, task and executor figures to an operation
        record once its phases are done."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = stages = tasks = 0
        run_ms = shuffle = spill = peak = 0
        groups = rec.get("groups", {})
        for g in groups.values():
            for j in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                jobs += 1
                for s in info.stageIds:
                    stages += 1
                    try:
                        sd = store.lastStageAttempt(s)
                    except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                        continue
                    tasks += sd.numTasks()
                    run_ms += sd.executorRunTime()
                    shuffle += sd.shuffleWriteBytes()
                    spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    peak = max(peak, sd.peakExecutionMemory())
        build_jobs = len(tracker.getJobIdsForGroup(groups["build"])) if "build" in groups else 0
        rec.update(
            jobs=jobs,
            stages=stages,
            tasks=tasks,
            executor_run_ms=run_ms,
            shuffle_bytes=shuffle,
            spill_bytes=spill,
            peak_exec_mem_bytes=peak,
            build_jobs=build_jobs,
        )
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append(rec)

    def spark_summary(self, cores: int) -> dict:
        """The Spark-runtime layer, as medians over traced operations."""
        ops = self.ops
        if not ops:
            return {}
        wall = [(r.get("build_s", 0.0) + r.get("exec_s", 0.0)) * 1000.0 for r in ops]
        serial = [w - r["executor_run_ms"] / cores for w, r in zip(wall, ops)]
        return {
            "spark.jobs_per_op": median(r["jobs"] for r in ops),
            "spark.stages_per_op": median(r["stages"] for r in ops),
            "spark.tasks_per_op": median(r["tasks"] for r in ops),
            "spark.collect_ms": median(r["exec_s"] for r in ops) * 1000.0,
            "spark.driver_serial_ms": median(serial),
            "spark.peak_exec_mem_bytes": max(r["peak_exec_mem_bytes"] for r in ops),
            "plans.build_ms": median(r["build_s"] for r in ops) * 1000.0,
            "plans.build_jobs": sum(r["build_jobs"] for r in ops),
        }

    def catalog_summary(self) -> dict:
        calls = len(self.timers.samples.get("catalog.load", ()))
        return {
            "catalog.load_ms": self.timers.median_ms("catalog.load"),
            "catalog.load_calls": calls / len(self.ops) if self.ops else 0.0,
            "catalog.memo_hit_ratio": self.timers.counts["catalog.memo_hits"] / calls if calls else 0.0,
        }
