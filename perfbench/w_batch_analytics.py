"""batch_analytics: passes over the 7 REST reads and the 15 headline
batch faces, closed loop, one client.

A pass first makes one read per REST endpoint of ``CityStreamEngine``,
each with seeded parameters and a freshly built engine and plan, as a
REST handler would; then it builds each face through ``all_queries()``
and collects it, in a fixed order. The reads are short and dominated
by plan building, the catalog and per-job scheduling; the faces by
operators (dedup, similarity, text UDFs), shuffles and executor
compute.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import datagen
from procs import tree_cpu_s
from oracle import Oracle, digest
from stats import Tally, geomean, median, percentile, samples_beyond, supported

# the inputs' scale factor. A run (set-up, warm-up, two timed passes,
# checks) takes about 70 s on 4 cores at sf0.01; at sf0.1 the benchmark's
# runs would not fit its time budget (see README.md)
SF = 0.01
# timed passes a run makes at least; each operation counts with its
# best wall over them (see README.md)
MIN_PASSES = 2
CITIES = ("SF", "NYC", "LA", "Chicago", "Seattle", "Boston")
ENDPOINTS = ("events", "summary", "alerts", "cities", "aggregations", "stats", "producer_metrics")
# the endpoints' fixed-parameter batch twins, checked against DuckDB
TWINS = (
    "cs_events_by_city", "cs_summary_city", "cs_alerts_recent", "cs_cities",
    "cs_aggregations_filtered", "cs_stats", "cs_producer_metrics",
)
FACES = (
    "rel_pricing_summary", "rel_shipping_priority", "rel_local_supplier_volume",
    "rel_nation_profit", "rel_top_orders_per_customer", "rel_user_sessions",
    "rel_asof_purchase_view", "llm_text_stats", "llm_dedup_exact",
    "llm_dedup_ngram_jaccard", "llm_contamination", "llm_dedup_minhash_lsh",
    "llm_emb_cosine_topk", "llm_dedup_clusters", "llm_corpus_pipeline",
)


def draw_params(rng, endpoint: str) -> tuple:
    """Seeded REST parameters, keeping only those the endpoint takes."""
    city = CITIES[rng.integers(len(CITIES))]
    event_type = str(datagen.EVENT_TYPES[rng.integers(len(datagen.EVENT_TYPES))])
    limit = (10, 20, 50)[rng.integers(3)]
    hours = (2, 24, 48)[rng.integers(3)]
    return {
        "events": (city, limit),
        "summary": (city,),
        "alerts": (city, hours, limit),
        "cities": (),
        "aggregations": (city, event_type, limit),
        "stats": (),
        "producer_metrics": (),
    }[endpoint]


def run_ops(rng) -> list[tuple]:
    """A run's operations, in pass order: ("read", endpoint, params) x 7,
    then ("face", name, ()) x 15. Read parameters are drawn once per run,
    so every pass repeats them and each repeat must return the same rows."""
    return [("read", ep, draw_params(rng, ep)) for ep in ENDPOINTS] + [("face", f, ()) for f in FACES]


def build(spark, sf_dir: str, queries, op: tuple):
    from real_time_event_streaming_pipeline_spark.engine import CityStreamEngine

    kind, name, params = op
    if kind == "read":
        return getattr(CityStreamEngine(spark, sf_dir), name)(*params)
    return queries[name](spark, sf_dir)  # a face or a cs_* twin


def wall_s(rec: dict) -> float:
    return rec["build_s"] + rec["exec_s"]


def run(bench) -> dict:
    sf_dir = datagen.generate(os.path.join(bench.work, "data"), bench.seed, SF)
    bench.start_session()
    from real_time_event_streaming_pipeline_spark.plans import all_queries

    spark, tracer = bench.spark, bench.tracer
    queries = all_queries()
    ops = run_ops(np.random.default_rng(bench.seed))
    tally = Tally()

    def collect(op, rec: dict | None = None):
        """Build and collect one operation; with ``rec``, time its phases
        (and trace them in traced runs)."""
        if rec is None:
            df = build(spark, sf_dir, queries, op)
            return [tuple(r) for r in df.collect()], df.columns
        with tracer.phase(rec, "build"):
            df = build(spark, sf_dir, queries, op)
        with tracer.phase(rec, "exec"):
            rows = df.collect()
        tracer.finish_op(rec)
        return [tuple(r) for r in rows], df.columns

    reference: dict[tuple, tuple] = {}
    executed: dict[tuple, list] = {}  # op -> keys of its executions that returned

    def attempt(op, key, run) -> bool:
        """Count one execution of an operation; False when it raised. A
        failure is counted, not fatal. The first result is the operation's
        reference, and every later one must repeat it."""
        tally.attempt()
        try:
            out = run()
        except Exception as e:  # noqa: BLE001
            tally.fail((op, key), f"raised {type(e).__name__}: {e}")
            return False
        executed.setdefault(op, []).append(key)
        if op not in reference:
            reference[op] = (*out, digest(*out))
        elif digest(*out) != reference[op][2]:
            tally.fail((op, key), "result differs from the first execution")
        return True

    # an untimed first pass warms the session, as a long-running service's
    # would be: class loading, code generation, the JIT and the Python UDF
    # workers. It also runs the endpoints' fixed-parameter twins, and it
    # runs its operations concurrently, one per core, only to take less
    # wall time.
    t0 = time.perf_counter()
    with ThreadPoolExecutor(bench.cores) as pool:
        futures = {op: pool.submit(collect, op) for op in ops + [("twin", t, ()) for t in TWINS]}
        for op, fut in futures.items():
            attempt(op, "warm", fut.result)
    bench.warmed(time.perf_counter() - t0)

    recs: list[dict] = []
    passes: list[float] = []
    tracer.timers.clear()  # catalog figures cover the timed passes only
    cpu0 = tree_cpu_s()
    t_start = time.perf_counter()
    deadline = t_start + bench.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        t_pass = time.perf_counter()
        for op in ops:
            rec: dict = {"op": op, "pass": len(passes)}
            if attempt(op, rec["pass"], lambda: collect(op, rec)):
                recs.append(rec)
        passes.append(time.perf_counter() - t_pass)
    cpu_s = tree_cpu_s() - cpu0
    catalog = tracer.catalog_summary()
    bench.mark(f"measured {len(passes)} passes: {[round(p, 2) for p in passes]}")
    bench.mark("wall (ms) per operation and pass: " + json.dumps(
        {op[1]: [round(wall_s(r) * 1000) for r in recs if r["op"] == op] for op in ops}
    ))

    # correctness, outside the timed region: each face's and each twin's
    # first result equals DuckDB's; a later execution that repeated a
    # wrong first result is wrong too
    oracle = Oracle(sf_dir)
    for op, (rows, cols, _) in reference.items():
        problem = op[0] != "read" and oracle.check(op[1], rows, cols)
        if problem:
            for key in executed[op]:
                tally.fail((op, key), problem)
    oracle.close()
    bench.mark("outputs checked")

    by_face: dict[str, list[dict]] = {f: [] for f in FACES}
    by_endpoint: dict[str, list[dict]] = {ep: [] for ep in ENDPOINTS}
    for r in recs:
        (by_face if r["op"][0] == "face" else by_endpoint)[r["op"][1]].append(r)
    reads = [wall_s(r) * 1000.0 for rs in by_endpoint.values() for r in rs]
    pass_s = median(passes)
    # each operation's best wall over the timed passes, then the geomean
    # over operations, so a heavy face cannot hide the others. The best,
    # not the median, of a few passes: on a shared host other tenants'
    # load slows whole stretches of a run, and an operation counts as
    # slowed only when it was slowed in every pass
    best_s = [min(map(wall_s, rs)) for rs in (*by_endpoint.values(), *by_face.values()) if rs]
    latency_ms = geomean(best_s) * 1000.0
    bench.named["pass_s"] = (pass_s, "s")
    bench.named["passes"] = (len(passes), "count")
    bench.named["face_geomean_s"] = (
        geomean(median(wall_s(r) for r in rs) for rs in by_face.values() if rs), "s"
    )
    bench.named["read_p50_ms"] = (percentile(reads, 50), "ms")
    bench.named["read_p90_ms"] = (percentile(reads, 90), "ms")
    bench.named["reads"] = (len(reads), "count")
    # one closed-loop client: completed reads per second of reading
    bench.named["reads_per_s"] = (len(reads) * 1000.0 / sum(reads), "1/s")
    if not supported(len(reads), 90):
        bench.notes.append(
            f"read_p90_ms rests on {samples_beyond(len(reads), 90)} samples beyond it "
            f"(n={len(reads)}); the percentile rule asks for 10"
        )

    layers = {}
    if bench.trace:
        layers.update(tracer.spark_summary(bench.cores))
        layers.update(catalog)
        for prefix, groups in (("endpoint", by_endpoint), ("face", by_face)):
            for name, rs in groups.items():
                layers[f"{prefix}.{name}.build_ms"] = median(r["build_s"] for r in rs) * 1000 if rs else 0.0
                layers[f"{prefix}.{name}.exec_ms"] = median(r["exec_s"] for r in rs) * 1000 if rs else 0.0
                if prefix == "face":
                    layers[f"face.{name}.shuffle_bytes"] = median(r["shuffle_bytes"] for r in rs) if rs else 0
                    layers[f"face.{name}.spill_bytes"] = median(r["spill_bytes"] for r in rs) if rs else 0
        layers["cpu.per_op_ms"] = cpu_s * 1000.0 / len(recs)
        faces = [r for rs in by_face.values() for r in rs]
        busy = sum(r["executor_run_ms"] for r in faces) / bench.cores / 1000.0
        bench.notes.append(
            f"operators: executor run time / cores is {busy / sum(map(wall_s, faces)):.0%} "
            "of the faces' wall time"
        )
        layers["trace.latency_ms"] = latency_ms
    return {
        "tally": tally,
        # one closed-loop client making a pass with each operation at its best
        "generic": {"latency_ms": latency_ms, "ops_per_s": len(best_s) / sum(best_s)},
        "layers": layers,
    }
