"""The CityStream streaming pipeline — the reference's 4 concurrent
queries (consumer/.../SparkDynamoDBConsumer.java:110-196) rebuilt on
Structured Streaming with the engine's shared batch plans:

  Q1 raw events    — project + derive → append → upsert sink by event_key
  Q2 windowed agg  — watermark + 5-min tumbling window → update →
                     upsert sink by partition_key
  (both upsert sinks are tx_table.upsert_tx: manifest-committed,
  exactly-once per epoch; read them back with tx_table.read_table)
  Q3 alerts        — severity IN (high, critical) → append sink
  Q4 counts        — global group-count → complete → memory/console

Differences from the reference, by design (SURVEY.md §7.0):
- windows are event-time on the typed ts column, not processing time
  (the reference windows on current_timestamp() — §2.4 quirk);
  pass use_event_time=False to reproduce the reference exactly.
- sinks are bulk columnar upserts committed atomically per epoch,
  not per-row putItem.

Checkpointing: one checkpoint dir per query (reference S9/W7) —
recovery is exercised in tests/test_streaming.py.
"""

from __future__ import annotations

import os
from dataclasses import InitVar, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import ALERT_SEVERITIES, event_key, ttl_from
from ..plans.citystream import enrich_events, windowed_agg
from .sinks import append_parquet
from .tx_table import upsert_tx


def _checkpoint_app_id(ckpt_dir: str) -> str:
    """Stable identity for a (query, checkpoint) pair: a uuid stamped
    into the checkpoint dir on first use. Fresh checkpoint → fresh app
    id, so the tx ledger never mistakes a restarted-from-scratch
    query's epochs 0..N for replays of the previous run; same
    checkpoint → same id, preserving exactly-once across restarts
    (the Delta txnAppId discipline)."""
    os.makedirs(ckpt_dir, exist_ok=True)
    p = os.path.join(ckpt_dir, "_app_id")
    if not os.path.exists(p):
        import uuid

        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(uuid.uuid4().hex)
        os.replace(tmp, p)  # atomic: a concurrent stamp wins whole
    with open(p) as fh:
        return fh.read().strip()


@dataclass
class PipelineConfig:
    out_dir: str
    watermark: str = "10 minutes"  # reference: SparkDynamoDBConsumer.java:121
    use_event_time: bool = True
    counts_sink: str = "memory"  # "console" in production
    # available_now=True drains everything already in the source then
    # stops on its own — the batch-backfill trigger (the reference has
    # only ASAP micro-batches)
    available_now: bool = False
    # stamp each raw event with ttl = event_time + 30d (the reference's
    # DynamoDB TTL attribute, setup-dynamodb.sh:29-32 /
    # SparkDynamoDBConsumer.java:259-262); expired rows are dropped by
    # run_retention(), the maintenance pass standing in for DynamoDB's
    # background expiry
    with_ttl: bool = False
    # init-only: callers may still pass atomic=True, which selects
    # nothing (tx_table.upsert_tx is the only upsert sink); False raises
    atomic: InitVar[bool] = True

    def __post_init__(self, atomic: bool) -> None:
        if not atomic:
            raise ValueError(
                "PipelineConfig(atomic=False) is gone: every upsert sink commits "
                "through tx_table.upsert_tx"
            )

    def upsert(self, name: str, key_cols: list[str], order_col: str):
        """The tx_table upsert sink (64 buckets) for table ``name``:
        it rewrites only the buckets an epoch's keys hash into and
        commits through the manifest log — all-or-nothing across
        buckets, exactly-once epoch application, snapshot-isolated
        readers. Read it back with tx_table.read_table, not a bare
        spark.read.parquet (the data directory alone is not the
        table)."""
        # raw_events carries ttl: record per-file ttl min/max so the
        # retention pass (delete_where) can skip files whose range
        # never crosses the cutoff — without stats it would rewrite the
        # whole table every time
        stats = ["ttl"] if (self.with_ttl and name == "raw_events") else None
        return upsert_tx(
            self.path(name),
            key_cols,
            order_col=order_col,
            stats_cols=stats,
            # ledger scope rides the CHECKPOINT's identity: a query
            # restarted from a fresh checkpoint restarts epoch ids at 0,
            # and without a fresh app id the exactly-once ledger would
            # swallow every one of them as a replay of the previous run
            app_id=_checkpoint_app_id(self.checkpoint(name.replace("_", "-"))),
        )

    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def checkpoint(self, name: str) -> str:
        return os.path.join(self.out_dir, "_checkpoints", name)


def _prepared(source: DataFrame, cfg: PipelineConfig) -> DataFrame:
    enriched = enrich_events(source)
    if not cfg.use_event_time:
        # reference-exact mode: window on ingest wall clock
        # (SparkDynamoDBConsumer.java:89) — true late data impossible
        enriched = enriched.withColumn("ts", F.current_timestamp())
    return enriched


def _start(writer, cfg: PipelineConfig):
    if cfg.available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_pipeline(spark: SparkSession, source: DataFrame, cfg: PipelineConfig) -> dict:
    """Start all four queries; returns {name: StreamingQuery}. Caller
    owns termination (processAllAvailable for tests,
    awaitAnyTermination in production like the reference's :196)."""
    enriched = _prepared(source, cfg)
    queries = {}

    raw_cols = [
        F.col("event_id"),
        event_key(F.col("city"), F.col("event_type"), F.col("ts_iso")).alias("event_key"),
        F.col("city"),
        F.col("event_type"),
        F.col("severity"),
        F.col("ts"),
        F.col("value"),
    ]
    if cfg.with_ttl:
        raw_cols.append(ttl_from(F.col("ts")).alias("ttl"))
    raw = enriched.select(*raw_cols)
    queries["raw_events"] = _start(
        raw.writeStream.outputMode("append")
        .option("checkpointLocation", cfg.checkpoint("raw-events"))
        .foreachBatch(cfg.upsert("raw_events", ["event_key"], "ts")),
        cfg,
    )

    agg = windowed_agg(enriched, watermark=cfg.watermark)
    queries["aggregations"] = _start(
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", cfg.checkpoint("aggregations"))
        .foreachBatch(cfg.upsert("aggregations", ["partition_key"], "last_updated")),
        cfg,
    )

    alerts = enriched.filter(F.col("severity").isin(*ALERT_SEVERITIES)).select(
        "event_id", "city", "event_type", "severity", "ts"
    )
    queries["alerts"] = _start(
        alerts.writeStream.outputMode("append")
        .option("checkpointLocation", cfg.checkpoint("alerts"))
        .foreachBatch(append_parquet(cfg.path("alerts"))),
        cfg,
    )

    counts = enriched.groupBy("city", "event_type", "severity").count()
    writer = (
        counts.writeStream.outputMode("complete")
        .option("checkpointLocation", cfg.checkpoint("console"))
    )
    if cfg.counts_sink == "memory":
        queries["counts"] = _start(writer.format("memory").queryName("city_counts"), cfg)
    else:
        queries["counts"] = _start(writer.format("console").option("truncate", "false"), cfg)

    return queries


def run_retention(spark: SparkSession, cfg: PipelineConfig, now_epoch: int) -> dict:
    """Drop TTL-expired rows from the pipeline's raw-events table —
    the reference's DynamoDB TTL expiry (setup-dynamodb.sh:29-32)
    reproduced end-to-end: events carry ttl = event_time + 30 d
    (cfg.with_ttl) and this maintenance pass removes rows whose ttl
    has passed. Deterministic: the caller supplies now_epoch.

    Requires the pipeline to have run with cfg.with_ttl=True. The
    expiry is a transactional DELETE WHERE with ttl-stats file
    skipping: only files whose ttl range crosses the cutoff are
    touched, and readers never observe a half-expired table."""
    from . import tx_table

    if not cfg.with_ttl:
        raise ValueError("retention requires PipelineConfig(with_ttl=True)")
    table = cfg.path("raw_events")

    def _count_at(version: int) -> int:
        # manifest n_rows stats first (stats_cols=['ttl'] implies
        # per-file counts, so this is metadata-only); real count()
        # only when some live file predates the stats pass
        c = tx_table.table_count(table, version)
        if c is not None:
            return c
        df = tx_table.read_table(spark, table, version=version)
        return 0 if df is None else df.count()  # None: every file gone

    v0 = tx_table.latest_version(table)
    if v0 is None:
        return {"expired_rows": 0, "rows_after": 0}
    v_new = tx_table.delete_where(
        spark,
        table,
        F.col("ttl") <= F.lit(int(now_epoch)),
        between={"ttl": (None, int(now_epoch))},
    )
    after = _count_at(v_new)
    if v_new == v0 or tx_table.read_manifest(table, v_new)["op"] != "delete_where":
        # stats-proven no-op: delete_where returned its snapshot
        # version (ours, or a concurrent writer's) without committing
        # anything — including the idempotent repeat, where the
        # snapshot is a PAST retention commit
        return {"expired_rows": 0, "rows_after": after}
    # both counts come from the pinned manifest versions around the
    # retention commit, so a concurrent writer can't skew the delta
    before = _count_at(v_new - 1)
    return {"expired_rows": before - after, "rows_after": after}


def start_reference_simulation(
    spark: SparkSession,
    cfg: PipelineConfig,
    rows_per_second: int = 50,
    wire: DataFrame | None = None,
) -> dict:
    """The reference, end to end: synthetic producer (S6 rate source)
    → CityEvent JSON serialize → S2 fixed-schema parse → native
    windowed agg → upsert sink, plus the raw append sink. This is the
    whole producer→Kafka→consumer→store loop of the reference
    collapsed into one Spark app (the Kafka hop is a serialize/parse
    round trip here; swap the middle two lines for kafka write/read
    in prod).

    `wire` overrides the live producer with any streaming DataFrame
    carrying a JSON `value` column — tests pass a bounded file source
    so the two independent consumers drain to the same final offset
    (with the unbounded rate source they stop at different offsets,
    so cross-sink equality is only eventual)."""
    from ..plans.native import native_windowed_agg, parse_city_events
    from ..sources.generator import city_event_stream

    if wire is None:
        events = city_event_stream(spark, rows_per_second)
        wire = events.select(
            F.to_json(
                F.struct("city", "event_type", "severity", "timestamp", "description")
            ).alias("value")
        )
    parsed = parse_city_events(wire)

    queries = {}
    queries["raw_events"] = _start(
        parsed.writeStream.outputMode("append")
        .option("checkpointLocation", cfg.checkpoint("sim-raw"))
        .foreachBatch(append_parquet(cfg.path("sim_raw"))),
        cfg,
    )
    agg = native_windowed_agg(parsed, watermark=cfg.watermark)
    queries["aggregations"] = _start(
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", cfg.checkpoint("sim-agg"))
        .foreachBatch(
            cfg.upsert("sim_agg", ["window_start", "city", "event_type"], "last_updated")
        ),
        cfg,
    )
    return queries


def run_to_completion(queries: dict) -> None:
    """Drain every pending micro-batch, then stop (test harness path;
    production blocks on spark.streams.awaitAnyTermination())."""
    for q in queries.values():
        q.processAllAvailable()
    for q in queries.values():
        q.stop()
