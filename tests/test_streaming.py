"""Streaming semantics: the Dataflow identity (streaming query ==
incremental view of the batch query), upsert sink last-writer-wins,
checkpoint recovery, output modes, and the S6 generator domains.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from real_time_event_streaming_pipeline_spark.plans.citystream import (
    city_events,
    windowed_agg,
)
from real_time_event_streaming_pipeline_spark.sources import (
    city_event_stream,
    events_file_stream,
)
from real_time_event_streaming_pipeline_spark.sources.generator import city_event_batch
from real_time_event_streaming_pipeline_spark.streaming.pipeline import (
    PipelineConfig,
    run_to_completion,
    start_pipeline,
)
from real_time_event_streaming_pipeline_spark.streaming.sinks import upsert_parquet


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_pipeline_matches_batch(spark, sf_small, tmp_path):
    """End-to-end: run the 4-query pipeline over the file stream, then
    check every sink equals its batch twin."""
    cfg = PipelineConfig(out_dir=str(tmp_path))
    src = events_file_stream(spark, sf_small)
    queries = start_pipeline(spark, src, cfg)
    run_to_completion(queries)

    batch = city_events(spark, sf_small)

    # Q2: windowed aggregations == batch windowed agg
    got = spark.read.parquet(cfg.path("aggregations")).drop("_epoch")
    want = windowed_agg(batch)
    assert _rows(got) == _rows(want)

    # Q1: raw events — one row per event_key upsert
    raw = spark.read.parquet(cfg.path("raw_events"))
    assert raw.count() == raw.select("event_key").distinct().count()
    assert raw.count() == batch.select(
        F.concat_ws("-", "city", "event_type", "ts_iso")
    ).distinct().count()

    # Q3: alerts == batch severity filter
    alerts = spark.read.parquet(cfg.path("alerts"))
    want_alerts = batch.filter(F.col("severity").isin("high", "critical"))
    assert alerts.count() == want_alerts.count()

    # Q4: complete-mode counts == batch group count
    counts = spark.sql("SELECT * FROM city_counts")
    want_counts = batch.groupBy("city", "event_type", "severity").count()
    assert _rows(counts) == _rows(want_counts)


def test_upsert_last_writer_wins(spark, tmp_path):
    out = str(tmp_path / "t")
    sink = upsert_parquet(out, ["k"], order_col="v")
    sink(spark.createDataFrame([("a", 1), ("b", 1)], "k string, v int"), 0)
    sink(spark.createDataFrame([("a", 99)], "k string, v int"), 1)
    got = {(r.k, r.v) for r in spark.read.parquet(out).select("k", "v").collect()}
    assert got == {("a", 99), ("b", 1)}


def test_upsert_replay_same_epoch_idempotent(spark, tmp_path):
    """foreachBatch's exactly-once contract is at-least-once delivery +
    idempotent sink: if the driver dies after the table swap but before
    the checkpoint commit, Structured Streaming replays the SAME epoch
    with the SAME data. Replaying must be a no-op — the reference's
    putItem-retry semantics (SparkDynamoDBConsumer.java:267-271) at
    batch granularity: same PK, same epoch → one row, same value."""
    out = str(tmp_path / "t")
    sink = upsert_parquet(out, ["k"], order_col="v")
    sink(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), 0)
    b1 = spark.createDataFrame([("a", 5), ("c", 3)], "k string, v int")
    sink(b1, 1)
    snap = {(r.k, r.v) for r in spark.read.parquet(out).select("k", "v").collect()}
    assert snap == {("a", 5), ("b", 2), ("c", 3)}

    # crash window 1: epoch 1 fully applied, checkpoint commit lost →
    # verbatim replay of epoch 1
    sink(b1, 1)
    table = spark.read.parquet(out)
    assert {(r.k, r.v) for r in table.select("k", "v").collect()} == snap
    # dedupe is by (PK): one physical row per key even though the same
    # (PK, epoch) arrived twice
    assert table.count() == 3

    # crash window 2: killed mid-write — a half-written staging dir is
    # left behind; the replay must overwrite it, not trip on it
    import pathlib

    stale = pathlib.Path(out + ".tmp")
    stale.mkdir()
    (stale / "part-garbage").write_text("not parquet")
    sink(b1, 1)
    assert {
        (r.k, r.v) for r in spark.read.parquet(out).select("k", "v").collect()
    } == snap


def test_checkpoint_recovery(spark, sf_small, tmp_path):
    """Stop the agg query mid-stream, restart from the same checkpoint,
    verify the final table is complete and duplicate-free."""
    cfg = PipelineConfig(out_dir=str(tmp_path))
    src = events_file_stream(spark, sf_small)

    def start_agg():
        return (
            windowed_agg(src.transform(_enrich), watermark=cfg.watermark)
            .writeStream.outputMode("update")
            .option("checkpointLocation", cfg.checkpoint("agg2"))
            .foreachBatch(
                upsert_parquet(cfg.path("agg2"), ["partition_key"], order_col="last_updated")
            )
            .start()
        )

    from real_time_event_streaming_pipeline_spark.plans.citystream import enrich_events as _enrich

    q = start_agg()
    q.processAllAvailable()
    q.stop()
    # restart on same checkpoint — no new data, must be a no-op
    q2 = start_agg()
    q2.processAllAvailable()
    q2.stop()

    got = spark.read.parquet(cfg.path("agg2")).drop("_epoch")
    want = windowed_agg(city_events(spark, sf_small))
    assert _rows(got) == _rows(want)


def test_generator_domains(spark):
    """S6 parity: domains and description templates
    (EventGeneratorService.java:23-53)."""
    df = city_event_batch(spark, 200)
    rows = df.collect()
    cities = {r.city for r in rows}
    types = {r.event_type for r in rows}
    sevs = {r.severity for r in rows}
    assert cities == {"SF", "NYC", "LA", "Chicago", "Seattle", "Boston"}
    assert types == {"traffic", "weather", "incident", "construction"}
    assert sevs == {"low", "medium", "high", "critical"}
    r0 = next(r for r in rows if r.event_type == "traffic")
    assert r0.description == f"{r0.severity} traffic congestion detected"
    # ISO-8601 Z timestamps, lexicographically ordered (reference §1.3)
    assert all(len(r.timestamp) == 20 and r.timestamp.endswith("Z") for r in rows)


def test_rate_source_stream_starts(spark, tmp_path):
    """The true streaming generator produces rows through a trigger."""
    q = (
        city_event_stream(spark, rows_per_second=100)
        .writeStream.format("memory")
        .queryName("gen_smoke")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 20
    n = 0
    while time.time() < deadline:
        n = spark.sql("SELECT count(*) c FROM gen_smoke").first().c
        if n > 0:
            break
        time.sleep(0.5)
    q.stop()
    assert n > 0


def test_stream_stream_interval_join_matches_batch(spark, sf_small, tmp_path):
    """Stream-stream join (streaming/joins.py): append-mode inner
    interval join must emit exactly the batch pair set."""
    from real_time_event_streaming_pipeline_spark.plans.citystream import (
        alert_followup_pairs,
        enrich_events,
    )
    from real_time_event_streaming_pipeline_spark.streaming.joins import (
        alert_followups_stream,
    )

    src = events_file_stream(spark, sf_small)
    q = (
        alert_followups_stream(enrich_events(src))
        .writeStream.format("memory")
        .queryName("followups_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = _rows(spark.sql("SELECT * FROM followups_stream"))
    want = _rows(alert_followup_pairs(city_events(spark, sf_small)))
    assert got == want
    assert want, "no pairs — horizon too small for the corpus"


def test_streaming_dedup_matches_batch_distinct(spark, sf_small, tmp_path):
    """dropDuplicatesWithinWatermark: one surviving row per event_key,
    same key set as the batch distinct."""
    from real_time_event_streaming_pipeline_spark.functions import event_key
    from real_time_event_streaming_pipeline_spark.plans.citystream import enrich_events
    from real_time_event_streaming_pipeline_spark.streaming.joins import (
        dedup_events_stream,
    )

    src = events_file_stream(spark, sf_small)
    q = (
        dedup_events_stream(enrich_events(src))
        .select("event_key")
        .writeStream.format("memory")
        .queryName("dedup_keys_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = [r.event_key for r in spark.sql("SELECT * FROM dedup_keys_stream").collect()]
    assert len(got) == len(set(got)), "stream emitted a duplicate key"
    batch = city_events(spark, sf_small)
    want = {
        r[0]
        for r in batch.select(
            event_key(F.col("city"), F.col("event_type"), F.col("ts_iso"))
        ).distinct().collect()
    }
    assert set(got) == want


def test_bucketed_upsert_semantics_match_full_rewrite(spark, tmp_path):
    """The bucketed copy-on-write sink and the full-rewrite sink must
    agree on final table contents for the same epoch sequence."""
    from real_time_event_streaming_pipeline_spark.streaming.sinks import (
        upsert_parquet_bucketed,
    )

    full, cow = str(tmp_path / "full"), str(tmp_path / "cow")
    s_full = upsert_parquet(full, ["k"], order_col="v")
    s_cow = upsert_parquet_bucketed(cow, ["k"], n_buckets=8, order_col="v")
    epochs = [
        [("a", 1), ("b", 2), ("c", 3), ("d", 4)],
        [("a", 9), ("e", 5)],
        [("b", 7), ("a", 8)],
    ]
    for i, rows in enumerate(epochs):
        b = spark.createDataFrame(rows, "k string, v int")
        s_full(b, i)
        s_cow(b, i)
    want = {(r.k, r.v) for r in spark.read.parquet(full).select("k", "v").collect()}
    got = {(r.k, r.v) for r in spark.read.parquet(cow).select("k", "v").collect()}
    assert got == want == {("a", 8), ("b", 7), ("c", 3), ("d", 4), ("e", 5)}


def test_bucketed_upsert_rewrites_only_affected_buckets(spark, tmp_path):
    """The copy-on-write contract: an epoch must not touch bucket
    directories its keys don't hash into (at 100 TB this is the
    difference between rewriting gigabytes and rewriting everything)."""
    import os
    import pathlib

    from real_time_event_streaming_pipeline_spark.streaming.sinks import (
        upsert_parquet_bucketed,
    )

    out = str(tmp_path / "t")
    sink = upsert_parquet_bucketed(out, ["k"], n_buckets=16, order_col="v")
    rows0 = [(f"key{i}", i) for i in range(200)]
    sink(spark.createDataFrame(rows0, "k string, v int"), 0)

    def snapshot():
        snap = {}
        for p in pathlib.Path(out).rglob("*.parquet"):
            st = os.stat(p)
            snap[str(p)] = (st.st_mtime_ns, st.st_size)
        return snap

    before = snapshot()
    buckets = {d.name for d in pathlib.Path(out).iterdir() if d.name.startswith("kb=")}
    assert len(buckets) > 4  # keys actually spread over buckets

    sink(spark.createDataFrame([("key7", 999)], "k string, v int"), 1)
    after = snapshot()

    from pyspark.sql import functions as SF

    hit = spark.range(1).select(
        SF.pmod(SF.xxhash64(SF.lit("key7")), SF.lit(16)).cast("int").alias("kb")
    ).first().kb
    changed_dirs = {
        p.split("kb=")[1].split("/")[0]
        for p in set(before) ^ set(after) | {p for p in before if before.get(p) != after.get(p)}
    }
    assert changed_dirs == {str(hit)}
    got = {(r.k, r.v) for r in spark.read.parquet(out).select("k", "v").collect()}
    assert ("key7", 999) in got and len(got) == 200


def test_bucketed_upsert_replay_same_epoch_idempotent(spark, tmp_path):
    from real_time_event_streaming_pipeline_spark.streaming.sinks import (
        upsert_parquet_bucketed,
    )

    out = str(tmp_path / "t")
    sink = upsert_parquet_bucketed(out, ["k"], n_buckets=8, order_col="v")
    sink(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), 0)
    b1 = spark.createDataFrame([("a", 5), ("c", 3)], "k string, v int")
    sink(b1, 1)
    snap = {(r.k, r.v) for r in spark.read.parquet(out).select("k", "v").collect()}
    assert snap == {("a", 5), ("b", 2), ("c", 3)}
    sink(b1, 1)  # verbatim replay
    table = spark.read.parquet(out)
    assert {(r.k, r.v) for r in table.select("k", "v").collect()} == snap
    assert table.count() == 3


def test_pipeline_bucketed_sink_matches_batch(spark, sf_small, tmp_path):
    """The 4-query pipeline with the copy-on-write bucketed upsert
    sinks produces the same Q2 table as the batch twin, laid out as
    kb=N partitions."""
    import pathlib

    cfg = PipelineConfig(out_dir=str(tmp_path), upsert_buckets=8)
    src = events_file_stream(spark, sf_small)
    queries = start_pipeline(spark, src, cfg)
    run_to_completion(queries)

    got = spark.read.parquet(cfg.path("aggregations")).drop("_epoch", "kb")
    want = windowed_agg(city_events(spark, sf_small))
    assert _rows(got) == _rows(want)
    dirs = {d.name for d in pathlib.Path(cfg.path("aggregations")).iterdir()}
    assert any(d.startswith("kb=") for d in dirs)


def test_pipeline_ttl_retention_drops_expired(spark, sf_small, tmp_path):
    """Reference DynamoDB-TTL behavior end-to-end
    (setup-dynamodb.sh:29-32): the pipeline stamps raw events with
    ttl = event_time + 30 d, and the retention pass drops rows whose
    ttl has passed — here, a now_epoch between the min and max expiry
    removes exactly the older events and keeps the rest."""
    from real_time_event_streaming_pipeline_spark.streaming.pipeline import run_retention

    cfg = PipelineConfig(out_dir=str(tmp_path), with_ttl=True)
    src = events_file_stream(spark, sf_small)
    run_to_completion(start_pipeline(spark, src, cfg))

    raw = spark.read.parquet(cfg.path("raw_events"))
    ttls = sorted(r.ttl for r in raw.select("ttl").collect())
    assert ttls, "pipeline wrote no raw events"
    n_total = len(ttls)
    cutoff = ttls[n_total // 2]  # expire the older half (ties keep)

    stats = run_retention(spark, cfg, now_epoch=cutoff)
    kept = spark.read.parquet(cfg.path("raw_events"))
    n_expired = sum(1 for t in ttls if t <= cutoff)
    assert stats["expired_rows"] == n_expired
    assert kept.count() == n_total - n_expired
    assert kept.filter(F.col("ttl") <= cutoff).count() == 0


def test_append_sink_epoch_replay_idempotent(spark, sf_small, tmp_path):
    """foreachBatch is at-least-once: re-running an epoch (crash
    between write and checkpoint commit) must not double rows — the
    append sink stages per-epoch and replaces its own files on
    replay."""
    from real_time_event_streaming_pipeline_spark.streaming.sinks import append_parquet

    ev = city_events(spark, sf_small).limit(50)
    out = str(tmp_path / "alerts")
    w = append_parquet(out)
    w(ev, 0)
    w(ev, 0)  # replay of the same epoch
    assert spark.read.parquet(out).count() == 50
    w(ev, 1)  # a NEW epoch appends
    assert spark.read.parquet(out).count() == 100


def test_bucketed_retention_preserves_layout(spark, sf_small, tmp_path):
    """Retention on a BUCKETED (non-atomic) table must keep the kb=N
    hive layout: a flat rewrite would strand every pre-retention row
    in root files the next bucketed upsert epoch cannot overwrite
    (duplicate keys + broken partition discovery)."""
    import pathlib

    from real_time_event_streaming_pipeline_spark.streaming.pipeline import run_retention

    cfg = PipelineConfig(out_dir=str(tmp_path), with_ttl=True, upsert_buckets=4)
    run_to_completion(start_pipeline(spark, events_file_stream(spark, sf_small), cfg))

    raw_dir = pathlib.Path(cfg.path("raw_events"))
    ttls = sorted(r.ttl for r in spark.read.parquet(str(raw_dir)).select("ttl").collect())
    cutoff = ttls[len(ttls) // 2]
    stats = run_retention(spark, cfg, now_epoch=cutoff)
    assert stats["expired_rows"] == sum(1 for t in ttls if t <= cutoff)

    # layout survived: kb= dirs present, no stray root-level data files
    entries = list(raw_dir.iterdir())
    assert any(e.name.startswith("kb=") for e in entries)
    assert not [e for e in entries if e.name.endswith(".parquet")]
    kept = spark.read.parquet(str(raw_dir))
    assert kept.filter(F.col("ttl") <= cutoff).count() == 0

    # and a subsequent bucketed upsert epoch still lands cleanly with
    # unique keys (the corruption mode was duplicates after retention)
    sink = cfg.upsert("raw_events", ["event_key"], "ts")
    more = spark.read.parquet(str(raw_dir)).drop("_epoch", "kb").limit(20)
    sink(more, 999)
    after = spark.read.parquet(str(raw_dir))
    assert after.groupBy("event_key").count().filter(F.col("count") > 1).count() == 0


def test_atomic_pipeline_fresh_checkpoint_applies_epochs(spark, sf_small, tmp_path):
    """Deleting the checkpoints (operator reprocessing) restarts epoch
    ids at 0; the tx ledger must treat the new run as a NEW app — not
    swallow its epochs as replays of the old run (silent data loss).
    The pipeline scopes the ledger to a uuid stamped in each
    checkpoint dir, so a fresh checkpoint gets a fresh scope."""
    import shutil

    from real_time_event_streaming_pipeline_spark.catalog import load
    from real_time_event_streaming_pipeline_spark.streaming.tx_table import read_table

    raw = load(spark, sf_small, "events")
    src = str(tmp_path / "src")
    raw.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)

    def run_once(cfg):
        stream = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 100)
            .parquet(src)
        )
        run_to_completion(start_pipeline(spark, stream, cfg))

    cfg = PipelineConfig(out_dir=str(tmp_path / "out"), atomic=True)
    run_once(cfg)

    # operator wipes checkpoints but keeps tables, then new data lands
    shutil.rmtree(os.path.join(cfg.out_dir, "_checkpoints"))
    raw.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    run_once(cfg)  # fresh checkpoint: reprocesses ALL files as epoch 0..N

    # reference: the same pipeline over the full source in one run
    ref = PipelineConfig(out_dir=str(tmp_path / "ref"), atomic=True)
    run_once(ref)
    got = _rows(read_table(spark, cfg.path("raw_events")).drop("_epoch", "kb"))
    want = _rows(read_table(spark, ref.path("raw_events")).drop("_epoch", "kb"))
    assert got == want


def test_windowed_agg_out_of_domain_severity_fails_loudly(spark, tmp_path):
    """windowed_agg counts the four enrichment severities only, so a
    row with any other severity would count in event_count yet vanish
    from `severities`. The query must fail instead, in batch and in
    streaming form; in-domain and NULL severities aggregate as before."""
    import datetime

    schema = "ts timestamp, city string, event_type string, severity string"
    t = datetime.datetime(2024, 1, 1, 12, 1)
    good = [(t, "NYC", "click", "high"), (t, "NYC", "click", "low"),
            (t, "NYC", "click", None)]
    ok = windowed_agg(spark.createDataFrame(good, schema)).collect()
    assert [(r.event_count, r.severities) for r in ok] == [(3, "high,low")]

    bad = good + [(t, "NYC", "click", "urgent")]
    with pytest.raises(Exception, match="severity outside"):
        windowed_agg(spark.createDataFrame(bad, schema)).collect()

    src = str(tmp_path / "src")
    spark.createDataFrame(bad, schema).coalesce(1).write.parquet(src)
    q = (
        windowed_agg(spark.readStream.schema(schema).parquet(src), watermark="10 minutes")
        .writeStream.format("memory").queryName("agg_bad_severity")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="severity outside"):
        q.awaitTermination(120)
    assert not q.isActive
