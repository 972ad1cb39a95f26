"""The streaming change-data-feed source over the transactional table
(streaming/tx_cdf_source.py): version-offset drain, parity with the
DataFrame read_changes implementation, and checkpointed resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_event_streaming_pipeline_spark.streaming import tx_table
from real_time_event_streaming_pipeline_spark.streaming.tx_cdf_source import (
    TxChangeFeedDataSource,
)

EPOCHS = [
    [("a", 1), ("b", 2), ("c", 3), ("d", 4)],
    [("a", 9), ("e", 5)],
    [("b", 7), ("a", 8)],
]


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, v int")


def _build(spark, tx):
    for i, rows in enumerate(EPOCHS):
        tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=2,
                        order_col="v", epoch_id=i)
    tx_table.delete(spark, tx, spark.createDataFrame([("c",)], "k string"),
                    epoch_id=10)


def _drain(spark, tx, ck, start_version=None):
    opts = {"table_dir": tx}
    if start_version is not None:
        opts["start_version"] = str(start_version)
    reader = spark.readStream.format("txcdf")
    for k, v in opts.items():
        reader = reader.option(k, v)
    name = f"cdf_{abs(hash((tx, ck))) % 10**8}"
    q = (
        reader.load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in spark.sql(f"SELECT k, v, _change_type, _commit_version FROM {name}").collect()
    }


def test_cdf_stream_matches_batch_read_changes(spark, tmp_path):
    spark.dataSource.register(TxChangeFeedDataSource)
    tx = str(tmp_path / "tx")
    _build(spark, tx)
    got = _drain(spark, tx, str(tmp_path / "ck"))

    want = set()
    for v in range(tx_table.latest_version(tx) + 1):
        df = tx_table.read_changes(spark, tx, v)
        if df is None:
            continue
        want |= {
            (r.k, r.v, r._change_type, v)
            for r in df.select("k", "v", "_change_type").collect()
        }
    assert got == want
    assert {ct for _, _, ct, _ in got} == {
        "insert", "update_preimage", "update_postimage", "delete"
    }


def test_cdf_stream_checkpoint_resume_sees_only_new_commits(spark, tmp_path):
    """Restarting from the checkpoint after new commits appends
    exactly the new versions' changes (file sink: the memory sink
    cannot recover from a checkpoint) — the version cursor is the
    offset, so nothing replays and nothing is skipped."""
    spark.dataSource.register(TxChangeFeedDataSource)
    tx = str(tmp_path / "tx")
    _build(spark, tx)
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def drain_to_parquet():
        q = (
            spark.readStream.format("txcdf")
            .option("table_dir", tx)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r.k, r.v, r._change_type, r._commit_version)
            for r in spark.read.parquet(out)
            .select("k", "v", "_change_type", "_commit_version")
            .collect()
        }

    first = drain_to_parquet()
    assert first

    tx_table.upsert(spark, tx, _batch(spark, [("z", 100), ("a", 50)]), ["k"],
                    n_buckets=2, order_col="v", epoch_id=20)
    v_new = tx_table.latest_version(tx)
    second = drain_to_parquet()
    assert second - first == {
        ("z", 100, "insert", v_new),
        ("a", 8, "update_preimage", v_new),
        ("a", 50, "update_postimage", v_new),
    }


def test_cdf_stream_start_version_skips_history(spark, tmp_path):
    spark.dataSource.register(TxChangeFeedDataSource)
    tx = str(tmp_path / "tx")
    _build(spark, tx)
    last = tx_table.latest_version(tx)
    got = _drain(spark, tx, str(tmp_path / "ck2"), start_version=last)
    assert got == {("c", 3, "delete", last)}


def test_cdf_stream_mirrors_atomic_pipeline_table(spark, sf_small, tmp_path):
    """The whole loop: the 4-query atomic pipeline lands its Q2 table
    through manifest commits; a txcdf subscriber drains the change
    feed and reconstructs the table from changes ALONE (last
    post-image/insert per key by commit version, minus deletes) —
    byte-equal to reading the final snapshot. This is the guarantee a
    downstream CDC consumer (cache, search index, replica) needs."""
    from real_time_event_streaming_pipeline_spark.sources import events_file_stream
    from real_time_event_streaming_pipeline_spark.streaming.pipeline import (
        PipelineConfig,
        run_to_completion,
        start_pipeline,
    )

    cfg = PipelineConfig(out_dir=str(tmp_path / "pipe"), atomic=True)
    run_to_completion(start_pipeline(spark, events_file_stream(spark, sf_small), cfg))
    table = cfg.path("aggregations")

    spark.dataSource.register(TxChangeFeedDataSource)
    name = "cdf_pipeline_mirror"
    q = (
        spark.readStream.format("txcdf")
        .option("table_dir", table)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    changes = spark.sql(f"SELECT * FROM {name}")
    w_cols = [c for c in changes.columns if c not in ("_change_type", "_commit_version")]
    from pyspark.sql import Window

    live = (
        changes.filter(F.col("_change_type").isin("insert", "update_postimage", "delete"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("partition_key").orderBy(F.desc("_commit_version"))
            ),
        )
        .filter((F.col("_rn") == 1) & (F.col("_change_type") != "delete"))
        .select(*w_cols)
    )
    mirror = {tuple(r) for r in live.collect()}
    snapshot = {tuple(r) for r in tx_table.read_table(spark, table).select(*w_cols).collect()}
    assert mirror == snapshot and mirror


def _offset_batches(ck):
    import os

    return sorted(
        int(f) for f in os.listdir(os.path.join(ck, "offsets"))
        if not f.startswith(".")
    )


def test_cdf_stream_max_versions_per_trigger_paces_backlog(spark, tmp_path):
    """A 10-commit backlog under max_versions_per_trigger=3 drains in
    >= 4 micro-batches with the same final rows as an uncapped drain —
    the restart-after-downtime flood control (VERDICT r4 #6)."""
    import time

    spark.dataSource.register(TxChangeFeedDataSource)
    tx = str(tmp_path / "tx")
    for i in range(10):
        tx_table.upsert(spark, tx, _batch(spark, [(f"k{i}", i)]), ["k"],
                        n_buckets=2, order_col="v", epoch_id=i)

    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def run(min_rows):
        q = (
            spark.readStream.format("txcdf")
            .option("table_dir", tx)
            .option("max_versions_per_trigger", "3")
            .option("stream_id", "paced")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            for _ in range(240):
                time.sleep(0.5)
                try:
                    if spark.read.parquet(out).count() >= min_rows:
                        break
                except Exception:
                    pass  # sink dir not created yet
        finally:
            q.stop()
        return {
            (r.k, r.v, r._change_type, r._commit_version)
            for r in spark.read.parquet(out)
            .select("k", "v", "_change_type", "_commit_version").collect()
        }

    got = run(10)
    assert got == {(f"k{i}", i, "insert", i) for i in range(10)}
    assert len(_offset_batches(ck)) >= 4  # ceil(10/3)

    # restart after more commits: the cap still paces, nothing replays
    for i in range(10, 16):
        tx_table.upsert(spark, tx, _batch(spark, [(f"k{i}", i)]), ["k"],
                        n_buckets=2, order_col="v", epoch_id=i)
    got2 = run(16)
    assert got2 == {(f"k{i}", i, "insert", i) for i in range(16)}  # no dupes, no gaps
    assert len(_offset_batches(ck)) >= 6  # first run's 4 + >= 2 more


def test_cdf_stream_requires_stream_id_with_rate_cap(spark, tmp_path):
    spark.dataSource.register(TxChangeFeedDataSource)
    tx = str(tmp_path / "tx")
    _build(spark, tx)
    q = (
        spark.readStream.format("txcdf")
        .option("table_dir", tx)
        .option("max_versions_per_trigger", "2")
        .load()
        .writeStream.format("memory").queryName("cdf_noid").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="stream_id"):
        q.awaitTermination(120)
        raise AssertionError("query should have failed")


def test_cdf_stream_schema_evolution_fails_loudly(spark, tmp_path):
    """A RUNNING stream whose plan-time schema predates an additive
    evolution must fail the evolved commit loudly (ADVICE r4) — its
    plan cannot carry columns it never knew, and silently dropping
    them diverges from batch read_changes. A restarted stream
    re-resolves the manifest schema and sees the new column."""
    import time

    spark.dataSource.register(TxChangeFeedDataSource)
    tx = str(tmp_path / "tx")
    tx_table.upsert(spark, tx, _batch(spark, [("a", 1)]), ["k"], n_buckets=2,
                    order_col="v", epoch_id=0)

    name = "cdf_evo_live"
    q = (
        spark.readStream.format("txcdf").option("table_dir", tx).load()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    try:
        for _ in range(120):
            time.sleep(0.5)
            if spark.sql(f"SELECT count(*) c FROM {name}").collect()[0].c >= 1:
                break

        # evolve mid-flight: add a column in a new commit
        wide = spark.createDataFrame([("b", 2, "x")], "k string, v int, extra string")
        tx_table.upsert(spark, tx, wide, ["k"], n_buckets=2, order_col="v",
                        epoch_id=1, merge_schema=True)
        with pytest.raises(Exception, match="restart the stream"):
            q.awaitTermination(120)
            raise AssertionError("stream should have failed on the evolved commit")
    finally:
        q.stop()

    # a FRESH stream planned after the evolution sees the new column
    q3 = (
        spark.readStream.format("txcdf").option("table_dir", tx).load()
        .writeStream.format("memory").queryName("cdf_evo3").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True).start()
    )
    q3.awaitTermination(120)
    rows = {
        (r.k, r.v, r.extra, r._change_type)
        for r in spark.sql("SELECT k, v, extra, _change_type FROM cdf_evo3").collect()
    }
    assert rows == {("a", 1, None, "insert"), ("b", 2, "x", "insert")}


def test_cdf_stream_start_timestamp(spark, tmp_path):
    """start_timestamp subscribes from an instant: the newest commit
    at or before it is the baseline, later commits stream as changes
    (the TIMESTAMP AS OF analogue of start_version)."""
    import time

    spark.dataSource.register(TxChangeFeedDataSource)
    tx = str(tmp_path / "tx")
    tx_table.upsert(spark, tx, _batch(spark, [("a", 1)]), ["k"], n_buckets=2,
                    order_col="v", epoch_id=0)
    time.sleep(0.05)
    mark = time.time()
    time.sleep(0.05)
    tx_table.upsert(spark, tx, _batch(spark, [("b", 2)]), ["k"], n_buckets=2,
                    order_col="v", epoch_id=1)

    name = "cdf_ts_start"
    q = (
        spark.readStream.format("txcdf")
        .option("table_dir", tx)
        .option("start_timestamp", str(mark))
        .load()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in spark.sql(
            f"SELECT k, v, _change_type, _commit_version FROM {name}"
        ).collect()
    }
    assert got == {("b", 2, "insert", 1)}  # v0 predates the mark


def test_cdf_null_rows_cancel_in_tuple_diff(spark, tmp_path):
    """Carried-verbatim rows containing NULL must cancel in the
    update_where/restore tuple diffs: pandas reads them back as NaN,
    and NaN tuples never hash/compare equal, so without object-dtype
    normalization they surface as spurious update images. The Spark
    read_changes path (null-safe exceptAll) is the contract."""
    from real_time_event_streaming_pipeline_spark.streaming.tx_cdf_source import (
        _changes_for_version,
    )

    tx = str(tmp_path / "tx")
    rows = [("a", 1), ("n1", None), ("n2", None)]
    tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=1,
                    order_col="k", epoch_id=0)
    # n_buckets=1: the rewrite must carry the null rows verbatim
    v = tx_table.update_where(spark, tx, F.col("v") >= 1, {"v": F.col("v") + 100})

    want = {
        (r.k, r.v, r._change_type)
        for r in tx_table.read_changes(spark, tx, v)
        .select("k", "v", "_change_type").collect()
    }
    assert want == {("a", 1, "update_preimage"), ("a", 101, "update_postimage")}
    got_pd = _changes_for_version(tx, v, ["k", "v", "kb", "_epoch"])
    got = {
        (r["k"], None if r["v"] is None else int(r["v"]), r["_change_type"])
        for _, r in got_pd.iterrows()
    }
    assert got == want  # no spurious images for the NULL rows

    # restore branch: roll back past the update; null rows must cancel
    # there too (restore CDF is also a tuple diff)
    v_r = tx_table.restore(tx, v - 1)
    want_r = {
        (r.k, r.v, r._change_type)
        for r in tx_table.read_changes(spark, tx, v_r)
        .select("k", "v", "_change_type").collect()
    }
    got_r_pd = _changes_for_version(tx, v_r, ["k", "v", "kb", "_epoch"])
    got_r = {
        (r["k"], None if r["v"] is None else int(r["v"]), r["_change_type"])
        for _, r in got_r_pd.iterrows()
    }
    assert got_r == want_r


def test_cdf_cursor_file_never_moves_backward(tmp_path):
    """_save_cursor persists the max()ed cursor, not the raw version:
    a smaller end (re-seeded latestOffset after cursor-file loss, or
    two queries sharing a stream_id) must not re-enlarge future caps."""
    from real_time_event_streaming_pipeline_spark.streaming.tx_cdf_source import (
        _TxChangeFeedStreamReader,
    )

    r = _TxChangeFeedStreamReader(
        {"table_dir": str(tmp_path / "t"), "max_versions_per_trigger": "2",
         "stream_id": "s1"},
        fields=[("k", "string")],
    )
    r._save_cursor(5)
    r._save_cursor(3)  # raw write would regress the file to 3
    assert r._load_cursor() == 5
    with open(r._cursor_path()) as fh:
        assert fh.read().strip() == "5"
