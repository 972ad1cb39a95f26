"""stream_ingest: the reference pipeline, fed open loop.

``start_pipeline`` runs its four concurrent queries (``raw_events``,
``aggregations``, ``alerts``, ``counts``) with
``PipelineConfig(atomic=True)``, so both upserts commit through
``tx_table``. A generator thread in this process writes one parquet
file of events every 250 ms (5,000 events/s), stamps each row's ``ts``
with the file's scheduled creation time, and never waits for Spark.
This is the only workload that exercises the sources, the streaming
layers and the state store.
"""

from __future__ import annotations

import functools
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from procs import tree_cpu_s
from stats import (
    Tally, commit_times, file_batches, file_latencies, median, percentile, samples_beyond, supported,
)

RATE = 5000  # events per second
PERIOD = 0.25  # seconds between files
ROWS = int(RATE * PERIOD)
QUERIES = ("raw_events", "aggregations", "alerts", "counts")
# checkpoint dir name of each query under PipelineConfig.checkpoint
CHECKPOINTS = {"raw_events": "raw-events", "aggregations": "aggregations", "alerts": "alerts", "counts": "console"}
PHASES = ("latestOffset", "addBatch", "queryPlanning", "walCommit")
# warm-up files, each committed by every query as its own micro-batch
# before the clock starts (a second one did not make runs steadier)
WARM = 1


class Generator:
    """Writes event files into the landing dir on a fixed schedule.
    Files are written to a staging dir and renamed in, so the stream
    never sees a partial file. All rows are drawn before the clock
    starts; only the ``ts`` stamp is set at write time."""

    def __init__(self, seed: int, land: str, staging: str, n_files: int) -> None:
        rng = np.random.default_rng(seed)
        self.land, self.staging = land, staging
        zero = np.zeros(ROWS, dtype=np.int64)
        self.tables = [datagen.event_table(rng, i * ROWS, zero) for i in range(n_files)]
        self.created: dict[str, float] = {}
        self.lateness: list[float] = []
        os.makedirs(land, exist_ok=True)
        os.makedirs(staging, exist_ok=True)

    @staticmethod
    def name(i: int) -> str:
        return f"events-{i:06d}.parquet"

    def write(self, i: int, scheduled: float) -> None:
        ts = pa.array(np.full(ROWS, int(round(scheduled * 1e6)), dtype="datetime64[us]"), pa.timestamp("us"))
        table = self.tables[i].set_column(1, "ts", ts)
        tmp = os.path.join(self.staging, self.name(i))
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.land, self.name(i)))
        self.created[self.name(i)] = scheduled
        self.lateness.append(time.time() - scheduled)

    def run_open_loop(self, first: int, last: int, start: float) -> None:
        """Files first..last-1, file k due at start + (k - first) * PERIOD."""
        for i in range(first, last):
            due = start + (i - first) * PERIOD
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self.write(i, due)


def _wait_committed(ckpts: dict[str, str], batch: int, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while not all(os.path.exists(os.path.join(c, "commits", str(batch))) for c in ckpts.values()):
        if time.monotonic() > deadline:
            raise TimeoutError(f"batch {batch} not committed by every query in {timeout} s")
        time.sleep(0.05)


def _bad_keys(got, want, key_cols: list[str]):
    """Keys of rows that are in one frame but not the other."""
    diff = got.exceptAll(want).unionByName(want.exceptAll(got))
    return diff.select(*key_cols).distinct()


def check_sinks(spark, cfg, land: str, schema):
    """Compare the four sinks with their batch twins over every landing
    file; returns the event_ids of events whose sink rows are wrong."""
    from pyspark.sql import functions as F

    from real_time_event_streaming_pipeline_spark.catalog import normalize_events_ts
    from real_time_event_streaming_pipeline_spark.functions import (
        ALERT_SEVERITIES, event_key, partition_key,
    )
    from real_time_event_streaming_pipeline_spark.plans.citystream import enrich_events, windowed_agg
    from real_time_event_streaming_pipeline_spark.streaming import tx_table

    batch = enrich_events(normalize_events_ts(spark.read.schema(schema).parquet(land)))
    ev = batch.select(
        "event_id",
        event_key(F.col("city"), F.col("event_type"), F.col("ts_iso")).alias("event_key"),
        partition_key(F.col("city"), F.col("event_type"), F.window("ts", "5 minutes").start).alias(
            "partition_key"
        ),
        "city", "event_type", "severity", "ts", "value",
    ).cache()
    bad = []

    want_agg = windowed_agg(batch)
    got_agg = tx_table.read_table(spark, cfg.path("aggregations")).select(*want_agg.columns)
    bad.append(ev.join(_bad_keys(got_agg, want_agg, ["partition_key"]), "partition_key", "left_semi"))

    raw_cols = ["event_id", "event_key", "city", "event_type", "severity", "ts", "value"]
    got_raw = tx_table.read_table(spark, cfg.path("raw_events")).select(*raw_cols)
    # last writer wins per key by ts: the kept row's key and ts must be the
    # key's newest, and the row itself one of the generated events
    want_last = ev.groupBy("event_key").agg(F.max("ts").alias("ts"))
    keys = _bad_keys(got_raw.select("event_key", "ts"), want_last, ["event_key"]).unionByName(
        got_raw.exceptAll(ev.select(*raw_cols)).select("event_key")
    )
    bad.append(ev.join(keys, "event_key", "left_semi"))

    alert_cols = ["event_id", "city", "event_type", "severity", "ts"]
    got_alerts = spark.read.parquet(cfg.path("alerts")).select(*alert_cols)
    want_alerts = ev.filter(F.col("severity").isin(*ALERT_SEVERITIES)).select(*alert_cols)
    bad.append(ev.join(_bad_keys(got_alerts, want_alerts, ["event_id"]), "event_id", "left_semi"))

    group = ["city", "event_type", "severity"]
    got_counts = spark.sql("SELECT * FROM city_counts").select(*group, "count")
    want_counts = batch.groupBy(*group).count()
    bad.append(ev.join(_bad_keys(got_counts, want_counts, group), group, "left_semi"))

    # one action over the union, so the four comparisons share a job
    wrong = functools.reduce(lambda a, b: a.unionByName(b), [b.select("event_id") for b in bad])
    failed = {r.event_id for r in wrong.distinct().collect()}
    ev.unpersist()
    return failed


def run(bench) -> dict:
    bench.start_session()
    from real_time_event_streaming_pipeline_spark.catalog import normalize_events_ts
    from real_time_event_streaming_pipeline_spark.streaming import pipeline, tx_table

    spark, tracer = bench.spark, bench.tracer
    tally = Tally()

    n_measured = max(1, int(round(bench.seconds / PERIOD)))
    land = os.path.join(bench.work, "landing")
    gen = Generator(bench.seed, land, os.path.join(bench.work, "staging"), WARM + n_measured)
    cfg = pipeline.PipelineConfig(out_dir=os.path.join(bench.work, "out"), atomic=True)
    ckpts = {q: cfg.checkpoint(CHECKPOINTS[q]) for q in QUERIES}

    # warm-up: files 0..WARM-1, each alone, until every query has committed it
    gen.write(0, time.time())
    schema = spark.read.parquet(land).schema
    source = normalize_events_ts(spark.readStream.schema(schema).parquet(land))
    t0 = time.perf_counter()
    queries = pipeline.start_pipeline(spark, source, cfg)
    build_ms = (time.perf_counter() - t0) * 1000.0
    progress: dict[str, list] = {}
    try:
        for i in range(WARM):
            if i:
                gen.write(i, time.time())
            _wait_committed(ckpts, i, timeout=90)
        bench.warmed(time.perf_counter() - t0)
        cpu0 = tree_cpu_s()
        start = time.time() + PERIOD
        thread = threading.Thread(target=gen.run_open_loop, args=(WARM, WARM + n_measured, start))
        thread.start()
        thread.join()
        gen_stop = time.time()
        bench.mark("generator stopped")
        for q in queries.values():
            q.processAllAvailable()
        cpu_s = tree_cpu_s() - cpu0
        progress = {name: list(q.recentProgress) for name, q in queries.items()}
    finally:
        for q in queries.values():
            q.stop()

    bench.mark("drained and stopped")
    tally.attempt(ROWS * (WARM + n_measured))
    wrong = check_sinks(spark, cfg, land, schema)
    for event_id in sorted(wrong):
        tally.fail(event_id, "missing from or wrong in a sink")

    bench.mark("sinks checked")
    per_query = [(file_batches(os.path.join(c, "sources", "0")), commit_times(os.path.join(c, "commits")))
                 for c in ckpts.values()]
    measured = {gen.name(i): gen.created[gen.name(i)] for i in range(WARM, WARM + n_measured)}
    lat = file_latencies(measured, per_query)
    missing = len(measured) - len(lat)
    if missing:
        bench.notes.append(f"{missing} files never committed by every query")
    # every event of a file shares its latency, so the samples are files
    ms = [v * 1000.0 for v in lat.values()]
    p50, p95 = percentile(ms, 50), percentile(ms, 95)
    last = gen.name(WARM + n_measured - 1)
    last_commit = max(commits[batches[last]] for batches, commits in per_query)
    drain_s = last_commit - gen_stop
    delivered = ROWS * len(lat) - sum(1 for e in wrong if e >= WARM * ROWS)
    # from the first measured file's creation to the last one's commit,
    # so a slower engine lowers it even though the generator never waits
    ops_per_s = delivered / (last_commit - start)
    bench.named["event_latency_p50_ms"] = (p50, "ms")
    bench.named["event_latency_p95_ms"] = (p95, "ms")
    bench.named["files_timed"] = (len(ms), "count")
    bench.named["delivered_eps"] = (delivered / (n_measured * PERIOD), "events/s")
    bench.named["drain_s"] = (drain_s, "s")
    for q in (50, 95):
        if not supported(len(ms), q):
            bench.notes.append(
                f"event_latency_p{q}_ms rests on {samples_beyond(len(ms), q)} files beyond it "
                f"(n={len(ms)}); the percentile rule asks for 10"
            )
    bench.notes.append(dominant_phase(progress))
    bench.notes.append(
        f"event latency p50 {p50 / 1000:.2f} s, p95 {p95 / 1000:.2f} s: "
        + ("sub-second" if p95 < 1000 else "not sub-second")
    )

    layers = {}
    if bench.trace:
        layers.update(tracer.spark_summary(bench.cores))
        layers["plans.build_ms"] = build_ms
        layers.update(_stream_layers(progress, per_query, gen, tracer, cfg, tx_table))
        layers["cpu.per_op_ms"] = cpu_s * 1000.0 / (ROWS * n_measured)
        layers["trace.latency_ms"] = p50
    return {
        "tally": tally,
        "generic": {"latency_ms": p50, "ops_per_s": ops_per_s},
        "layers": layers,
    }


def dominant_phase(progress: dict[str, list]) -> str:
    """The slowest query by median trigger time, and its largest
    ``durationMs`` phase, over the batches after warm-up."""
    best = None
    for name, ps in progress.items():
        ps = [p for p in ps if p["batchId"] >= WARM]
        if not ps:
            continue
        trigger = median(p["durationMs"]["triggerExecution"] for p in ps)
        if best is None or trigger > best[1]:
            phases = {k: median(p["durationMs"].get(k, 0) for p in ps)
                      for k in ps[0]["durationMs"] if k != "triggerExecution"}
            best = (name, trigger, max(phases.items(), key=lambda kv: kv[1]))
    if best is None:
        return "dominant phase: no batches after warm-up"
    name, trigger, (phase, ms) = best
    return f"dominant phase: {name}.{phase} {ms:.0f} ms of a {trigger:.0f} ms median trigger"


def _stream_layers(progress, per_query, gen, tracer, cfg, tx_table) -> dict:
    out: dict[str, float] = {}
    out["gen.lateness_ms"] = max(gen.lateness) * 1000.0
    out["source.backlog_files"] = max(
        max(np.bincount([b for b in batches.values() if b >= WARM]).tolist() or [0]) for batches, _ in per_query
    )
    state_rows = state_mem = dropped = 0
    state_commit: list[float] = []
    for name in QUERIES:
        ps = [p for p in progress.get(name, []) if p["batchId"] >= WARM]
        for key in PHASES:
            out[f"stream.{name}.{key}_ms"] = median(p["durationMs"].get(key, 0) for p in ps) if ps else 0.0
        out[f"stream.{name}.trigger_ms"] = median(p["durationMs"]["triggerExecution"] for p in ps) if ps else 0.0
        out[f"stream.{name}.batches"] = len(ps)
        ops = [p["stateOperators"] for p in ps if p["stateOperators"]]
        if ops:
            state_rows += sum(s["numRowsTotal"] for s in ops[-1])
            state_mem += sum(s["memoryUsedBytes"] for s in ops[-1])
            dropped += sum(s["numRowsDroppedByWatermark"] for op in ops for s in op)
            state_commit += [sum(s["commitTimeMs"] for s in op) for op in ops]
    out["state.rows_total"] = state_rows
    out["state.memory_bytes"] = state_mem
    out["state.commit_ms"] = median(state_commit) if state_commit else 0.0
    out["state.rows_dropped_by_watermark"] = dropped
    t = tracer.timers
    out["tx.upsert_ms"] = t.median_ms("tx.upsert")
    out["tx.commits"] = t.counts["tx.commits"]
    out["tx.retries"] = t.counts["tx.retries"]
    added = []
    for table in ("raw_events", "aggregations"):
        path = cfg.path(table)
        prev: set = set()
        for v in tx_table.list_versions(path):
            files = {f["path"] for f in tx_table.read_manifest(path, v)["files"]}
            added.append(len(files - prev))
            prev = files
    out["tx.files_per_commit"] = median(added) if added else 0.0
    out["sinks.append_ms"] = t.median_ms("sinks.append")
    return out
