"""The whole reference loop end to end: generator → JSON wire →
fixed-schema parse → windowed agg → sinks.

The wire is staged to files (bounded) rather than left on the live
rate source: the raw and agg sinks are two independent streaming
consumers, and with an unbounded source they stop at different
offsets, making cross-sink equality only eventual. A bounded source
drains both to the same final offset, so the totals must match
exactly — same determinism trick the reference would need with two
Kafka consumer groups.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_event_streaming_pipeline_spark.sources.generator import (
    DESCRIPTIONS,
    city_event_batch,
)
from real_time_event_streaming_pipeline_spark.streaming.pipeline import (
    PipelineConfig,
    run_to_completion,
    start_reference_simulation,
)
from real_time_event_streaming_pipeline_spark.streaming.tx_table import read_table

N_EVENTS = 2000


def test_reference_simulation_end_to_end(spark, tmp_path):
    wire_dir = str(tmp_path / "wire")
    city_event_batch(spark, N_EVENTS).select(
        F.to_json(
            F.struct("city", "event_type", "severity", "timestamp", "description")
        ).alias("value")
    ).write.text(wire_dir)

    cfg = PipelineConfig(out_dir=str(tmp_path / "out"), available_now=True)
    wire = spark.readStream.format("text").load(wire_dir)
    queries = start_reference_simulation(spark, cfg, wire=wire)
    run_to_completion(queries)

    raw = spark.read.parquet(cfg.path("sim_raw"))
    agg = read_table(spark, cfg.path("sim_agg"))

    # parse round trip is lossless: every produced event landed
    n_raw = raw.count()
    assert n_raw == N_EVENTS
    assert {r.city for r in raw.select("city").distinct().collect()} <= {
        "SF", "NYC", "LA", "Chicago", "Seattle", "Boston"
    }
    assert raw.filter(F.col("ts").isNull()).count() == 0  # typed time parsed

    # upsert kept exactly the latest emission per (window, city, type)
    keys = ["window_start", "city", "event_type"]
    assert agg.groupBy(*keys).count().filter("count > 1").count() == 0

    # aggregation totals reconcile with the raw sink, per key
    expected = (
        raw.groupBy(
            F.date_format(F.window("ts", "5 minutes").start, "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "city",
            "event_type",
        )
        .agg(F.count("*").alias("event_count"))
    )
    mismatches = (
        agg.select(*keys, "event_count")
        .join(expected, keys, "full_outer")
        .filter(
            agg["event_count"].isNull()
            | expected["event_count"].isNull()
            | (agg["event_count"] != expected["event_count"])
        )
        .count()
    )
    assert mismatches == 0
    assert sum(r.event_count for r in agg.collect()) == N_EVENTS

    # descriptions survived serialize→parse with the reference templates
    bad_desc = raw.filter(
        ~F.col("description").contains(
            F.create_map(
                *[x for t, d in DESCRIPTIONS.items() for x in (F.lit(t), F.lit(d))]
            )[F.col("event_type")]
        )
    ).count()
    assert bad_desc == 0
