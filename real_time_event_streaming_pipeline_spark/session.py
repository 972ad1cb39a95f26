"""SparkSession factory for the engine.

Scale posture: every config here is chosen so the plans that pass the
sf0.01 correctness gate on ``local[32]`` still hold on a 1000-executor
cluster reading ~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion at runtime).
- ``spark.sql.shuffle.partitions`` defaults to the local core count for
  tests; on a real cluster it is a starting hint only — AQE coalesces.
- Arrow enabled so every pandas-UDF extension operator (dedup sketches,
  embedding math, multimodal decode) moves data in columnar batches,
  never row-at-a-time pickling.
- Session timezone pinned to UTC: the test oracle (DuckDB) is
  TZ-naive, and at scale mixed-TZ executors silently corrupt
  event-time windows.

The reference (rishaliype/Real-Time-Event-Streaming-Pipeline) builds
its session at consumer/src/main/java/com/citystream/consumer/
SparkDynamoDBConsumer.java:48-60 with *no* tuning (default 200 shuffle
partitions for a 24-key stream); this factory is the corrected,
scale-aware equivalent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """Cores for ``local[N]``: ``SPARK_GRAFT_CPUS`` if set, else the
    cores this process may run on (its affinity mask, which a container
    or ``taskset`` narrows; ``os.cpu_count()`` would count the whole
    machine)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` if set, else
    40% of physical RAM, at most 16g — in local mode the driver heap
    holds every executor's tasks, and a fixed 16g on a smaller host
    lets the JVM grow past what the machine has."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, min(16 * 1024, int(phys * 0.4) >> 20))}m"


DEFAULT_CPUS = host_cpus()


def get_spark(
    app_name: str = "real_time_event_streaming_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's scale-aware defaults."""
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep parallelism-first coalescing effective for CPU-heavy
        # mid-size shuffles (default 1MB floor coalesces a 13MB shuffle
        # to <16 partitions, idling half the cores; at cluster scale the
        # size-based target dominates and this floor is never binding)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # r12: big shuffles need MORE partitions than cores, and AQE
        # can only coalesce DOWN from the initial count. With the
        # initial number pinned at the 32-core default, the sf30 soak
        # corpora pushed ~220MB+ of shuffled shingle stream and
        # million-key list aggregations into each task (16g driver
        # heap ÷ 32 concurrent tasks) — spill territory, measured as
        # the contamination face's 1.3+ exponent step. 8× cores as the
        # initial count bounds per-task aggregation state; AQE
        # coalesces small stages back toward core count, so sub-GB
        # queries keep their plan economics. At cluster scale the same
        # posture holds: initialPartitionNum ≳ a few × total cores,
        # advisory size doing the real work.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * (shuffle_partitions or cpus)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r14 ADJUDICATION of the r13 `preferSortMergeJoin=false`
        # posture (r13 verdict #2 — "a cluster posture nobody measured
        # is a guess wearing a comment"): measured at rel-sf10
        # (15M-row orders ⋈ 60M-row lineitem, sides past the 64MB
        # broadcast threshold) where the flag provably BINDS — the
        # committed per-arm plans flip SortMergeJoin ↔
        # ShuffledHashJoin on rel_nation_profit and
        # rel_local_supplier_volume — plus llm_contamination at sf3
        # with broadcast disabled (its shuffle join stays SMJ either
        # way: the planner's canBuildLocalHashMap guard rejects the
        # build side), ABBA interleaved ×4 per arm with a join-free
        # null control:
        #   nation_profit   SMJ min 2.473 vs SHJ-allowed 2.469
        #   local_supplier  SMJ min 4.388 vs SHJ-allowed 4.301
        #   contamination   SMJ min 9.045 vs (still SMJ) 8.912
        #   null control    0.692 vs 0.799 (the box's noise band)
        # NEUTRAL where it binds, at every face, inside the null
        # band. Decision: REVERT to the planner default (sort-merge
        # preferred) — the measured upside is zero here, and the r13
        # ADVICE's tail risk is real (canBuildLocalHashMap bounds the
        # AVERAGE build partition, not the max; a skewed build side
        # AQE's split misses can OOM a shuffled-hash join where
        # sort-merge would spill). A cluster with large post-shuffle
        # partitions, where skipping both sorts has measurable value,
        # can opt in via get_spark(extra_conf={
        # "spark.sql.join.preferSortMergeJoin": "false"}) — numbers
        # and plans in SCALING.md / plans/r14/.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # r13 opt: PySpark 4 wraps EVERY DataFrame/Column API call
        # with a call-site capture for error context — measured ~3
        # extra py4j round trips + a Python stack walk per call
        # (profiling the minhash plan build: 4.5k round trips, the
        # majority from this wrapper). Plans here are built
        # programmatically (32-permutation loops etc.), so the
        # wrapper taxes every bench rep's plan construction for
        # context no one reads in a verified engine; off = plan-build
        # latency roughly halves on expression-heavy faces. Purely a
        # driver-side Python toggle: plans, results, and executed
        # bytecode are identical.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # The driver `events` table stores ts as parquet TIMESTAMP(NANOS),
        # which Spark has no native type for; read it as epoch-nanos long
        # and convert in catalog.load (truncating to µs, matching DuckDB).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive parquet timestamps (isAdjustedToUTC=false) read as LTZ,
        # not NTZ: under the UTC session TZ the values match the DuckDB
        # oracle exactly, and LTZ keeps unix_micros()/date-math usable.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # Streaming state at scale: RocksDB spills state to local disk
        # instead of holding it on-heap (SURVEY.md §4.2).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
