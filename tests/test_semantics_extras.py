"""Reference-exact processing-time mode and sink retry idempotence
(the 'exactly-once' contract: foreachBatch may re-run an epoch after
failure; the upsert sink must absorb the replay)."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_event_streaming_pipeline_spark.sources import events_file_stream
from real_time_event_streaming_pipeline_spark.streaming.pipeline import (
    PipelineConfig,
    run_to_completion,
    start_pipeline,
)
from real_time_event_streaming_pipeline_spark.streaming import tx_table
from real_time_event_streaming_pipeline_spark.streaming.tx_table import read_table, upsert_tx


def test_processing_time_mode(spark, sf_small, tmp_path):
    """use_event_time=False reproduces the reference quirk
    (SURVEY.md §2.4): windows keyed on ingest wall clock, so every
    event of a micro-batch lands in the 'now' bucket and true late
    data cannot exist. Structural assertions only — wall clock is
    nondeterministic by definition."""
    cfg = PipelineConfig(out_dir=str(tmp_path), use_event_time=False)
    queries = start_pipeline(spark, events_file_stream(spark, sf_small), cfg)
    run_to_completion(queries)
    agg = read_table(spark, cfg.path("aggregations"))
    # all 1000 events counted, but windows collapse to the few wall-
    # clock buckets the run spanned (event time spans 30 days → would
    # be ~1000 distinct windows in event-time mode)
    assert agg.agg(F.sum("event_count")).first()[0] == 1000
    assert agg.select("window_start").distinct().count() <= 3


def test_upsert_sink_epoch_replay_idempotent(spark, tmp_path):
    """Replaying the same epoch (task retry after sink failure) must
    not change the table — the putItem/upsert contract that makes
    foreachBatch effectively exactly-once."""
    out = str(tmp_path / "t")
    sink = upsert_tx(out, ["k"], order_col="v")
    sink(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), 0)
    before = {(r.k, r.v) for r in read_table(spark, out).select("k", "v").collect()}
    # replay epoch 0 with identical content
    sink(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), 0)
    after = {(r.k, r.v) for r in read_table(spark, out).select("k", "v").collect()}
    assert before == after == {("a", 1), ("b", 2)}
    assert tx_table.latest_version(out) == 0


def test_upsert_sink_rejects_column_removal(spark, tmp_path):
    """Schema evolution through the upsert sink is additive-only: a
    restarted stream whose batches LOST a column the table already has
    must fail loudly and commit nothing, not silently pad every new row
    with NULLs; a batch that adds a column rolls the table forward. The
    check reads the manifest, so a sink commit runs exactly the Spark
    jobs a plain tx_table.upsert commit runs."""
    import pytest

    narrow, wide = "k string, v int, extra string", "k string, v int, extra string, score double"
    out = str(tmp_path / "t")
    sink = upsert_tx(out, ["k"], order_col="v")
    sink(spark.createDataFrame([("a", 1, "x")], narrow), 0)
    with pytest.raises(ValueError, match="missing existing column.*extra"):
        sink(spark.createDataFrame([("b", 2)], "k string, v int"), 1)
    assert tx_table.latest_version(out) == 0
    # the additive direction rolls forward
    sink(spark.createDataFrame([("c", 3, "y", 9.5)], wide), 2)
    back = read_table(spark, out)
    assert set(back.columns) >= {"k", "v", "extra", "score"}
    assert {(r.k, r.score) for r in back.collect()} == {("a", None), ("c", 9.5)}

    # the next commit, through the sink and through tx_table.upsert on a
    # twin with the same history, runs the same number of Spark jobs
    sc, twin = spark.sparkContext, str(tmp_path / "twin")
    for epoch, rows, schema in [(0, [("a", 1, "x")], narrow), (2, [("c", 3, "y", 9.5)], wide)]:
        tx_table.upsert(spark, twin, spark.createDataFrame(rows, schema), ["k"],
                        order_col="v", epoch_id=epoch, merge_schema=True)
    batch, n_jobs = spark.createDataFrame([("d", 4, "z", 1.5)], wide), []
    for name, commit in [("sink", lambda: sink(batch, 3)), ("upsert", lambda: tx_table.upsert(
            spark, twin, batch, ["k"], order_col="v", epoch_id=3, merge_schema=True))]:
        sc.setJobGroup(f"{name}-{tmp_path.name}", "upsert sink job count")
        commit()
        sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"{name}-{tmp_path.name}")))
    assert n_jobs[0] == n_jobs[1] > 0


def test_dedup_index_format_marker_atomic(tmp_path):
    """The _FORMAT marker publishes via tmp + os.replace (ADVICE r6):
    a stale tmp from a crashed writer must not poison the stamp, and a
    re-stamp with the same tag must be a no-op."""
    import os

    from real_time_event_streaming_pipeline_spark.streaming.dedup_index import (
        _check_or_stamp_format,
    )

    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    # simulate a crash that left a truncated tmp behind
    with open(os.path.join(idx, "_FORMAT.tmp"), "w") as fh:
        fh.write("garb")
    _check_or_stamp_format(idx, k=3, num_hashes=32, bands=8)
    tag = open(os.path.join(idx, "_FORMAT")).read()
    assert tag and "garb" not in tag
    _check_or_stamp_format(idx, k=3, num_hashes=32, bands=8)  # idempotent
    assert open(os.path.join(idx, "_FORMAT")).read() == tag


def test_recursive_sessions_match_native_session_window(spark, sf_small):
    """The WITH RECURSIVE sessionization must produce exactly the
    sessions the built-in session_window operator produces — same
    (user, start-µs, event count) triples."""
    from real_time_event_streaming_pipeline_spark.catalog import load
    from real_time_event_streaming_pipeline_spark.plans.windowing import (
        q_recursive_sessions,
    )

    rec = {
        (r.user_id, r.session_start_us, r.n_events)
        for r in q_recursive_sessions(spark, sf_small).collect()
    }
    ev = load(spark, sf_small, "events")
    nat = {
        (r.user_id, r.start_us, r.n_events)
        for r in ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.unix_micros("w.start").alias("start_us"), "n_events")
        .collect()
    }
    assert rec == nat
    assert rec, "no sessions found"


def test_udtf_shingles_match_expression_path(spark):
    """Spark 4 Python UDTF surface: a lateral table function emitting
    shingles must agree with the expression-level _shingle_expr (the
    production path — UDTFs are row-at-a-time Python, kept off the hot
    path by doctrine)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="shingle: string")
    class ShingleUDTF:
        def eval(self, text: str, k: int):
            toks = text.split(" ")
            for i in range(len(toks) - k + 1):
                yield (" ".join(toks[i : i + k]),)

    spark.udtf.register("shingle_udtf", ShingleUDTF)
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y"), (3, "p q r")], "doc_id long, text string"
    )
    df.createOrReplaceTempView("_udtf_docs")
    got = {
        (r.doc_id, r.shingle)
        for r in spark.sql(
            "SELECT d.doc_id, s.shingle FROM _udtf_docs d, "
            "LATERAL shingle_udtf(d.text, 3) s"
        ).collect()
    }
    from real_time_event_streaming_pipeline_spark.operators.dedup import _shingle_expr

    want = {
        (r.doc_id, r.shingle)
        for r in df.select(
            "doc_id",
            F.explode(_shingle_expr(F.split("text", " "), 3)).alias("shingle"),
        ).collect()
    }
    assert got == want
    assert (1, "a b c") in got and (2,) not in {(r[0],) for r in got if r[0] == 2}


def test_hll_mergeable_sketches_identity_and_error(spark, sf_small):
    """The property that makes sketch rollups sound at scale: the
    union of per-day partial sketches estimates EXACTLY what the
    single-pass sketch estimates (same lgK), and both sit within the
    HLL error envelope of the exact distinct count."""
    from real_time_event_streaming_pipeline_spark.plans.scalar import (
        q_fn_hll_mergeable_raw,
    )

    rows = q_fn_hll_mergeable_raw(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.n_days >= 1
        assert r.est_merged == r.est_single  # mergeability, bitwise
        # lgK=12 -> relative standard error ~1.6%; allow 4 sigma
        assert abs(r.est_merged - r.exact_users) <= max(3, 0.065 * r.exact_users)


def test_theta_set_algebra_consistency(spark, sf_small):
    """Theta sketch estimates must be inclusion-exclusion consistent
    (union ≈ view + purchase − both; view_only ≈ view − both) and sit
    within the sketch error envelope of the exact counts."""
    from real_time_event_streaming_pipeline_spark.plans.scalar import (
        q_fn_sketch_set_algebra_raw,
    )

    r = q_fn_sketch_set_algebra_raw(spark, sf_small).collect()[0]
    def close(a, b, tol=0.05):
        return abs(a - b) <= max(3, tol * max(a, b))
    assert close(r.est_view, r.exact_view)
    assert close(r.est_purchase, r.exact_purchase)
    assert close(r.est_both, r.exact_both)
    assert close(r.est_union, r.est_view + r.est_purchase - r.est_both, 0.06)
    assert close(r.est_view_only, r.est_view - r.est_both, 0.06)


def test_kll_quantiles_rank_error(spark, sf_small):
    """Merged per-day KLL sketches must return quantiles whose RANK in
    the exact distribution is within the sketch's rank-error bound
    (default k=200 -> ~1.65% double-sided) of the requested rank."""
    from real_time_event_streaming_pipeline_spark.catalog import load
    from real_time_event_streaming_pipeline_spark.plans.citystream import city_events
    from real_time_event_streaming_pipeline_spark.plans.scalar import (
        q_fn_kll_quantiles_raw,
    )

    r = q_fn_kll_quantiles_raw(spark, sf_small).collect()[0]
    vals = sorted(
        x.v for x in city_events(spark, sf_small)
        .select(F.col("value").cast("double").alias("v")).collect()
    )
    n = len(vals)
    assert r.n == n
    import bisect
    for q in (25, 50, 75, 95):
        got = getattr(r, f"kll_p{q}")
        rank = bisect.bisect_right(vals, got) / n
        assert abs(rank - q / 100) <= 0.03, (q, got, rank)
