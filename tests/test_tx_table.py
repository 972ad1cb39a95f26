"""The manifest-committed transactional table (streaming/tx_table.py):
atomic multi-bucket commits, exactly-once epochs over at-least-once
replay, snapshot isolation under crash/conflict injection, time
travel, vacuum, and compaction.
"""

from __future__ import annotations

import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from real_time_event_streaming_pipeline_spark.streaming import tx_table

EPOCHS = [
    [("a", 1), ("b", 2), ("c", 3), ("d", 4)],
    [("a", 9), ("e", 5)],
    [("b", 7), ("a", 8)],
]
FINAL = {("a", 8), ("b", 7), ("c", 3), ("d", 4), ("e", 5)}


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, v int")


def _content(spark, table_dir, version=None):
    df = tx_table.read_table(spark, table_dir, version=version)
    return set() if df is None else {(r.k, r.v) for r in df.select("k", "v").collect()}


def _files_target(spark, size):
    """Set ``spark.sql.files.maxPartitionBytes``, the write-group
    target size, for one test and restore it after."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, size)
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture
def small_files(spark):
    """A 2 KiB target: a commit packs a few-hundred-row table into
    several files of several buckets each, instead of one file."""
    yield from _files_target(spark, "2k")


@pytest.fixture
def tiny_files(spark):
    """A 128-byte target: nearly every bucket of a small table gets a
    file of its own, the layout per-file min/max skipping needs when
    the stats column does not follow the key hash."""
    yield from _files_target(spark, "128b")


def _lww(epochs):
    """The last-writer-wins reference model: later epochs win per key,
    and within one epoch the larger ``v`` (the order column) wins."""
    state: dict[str, int] = {}
    for rows in epochs:
        best: dict[str, int] = {}
        for k, v in rows:
            best[k] = max(v, best.get(k, v))
        state.update(best)
    return set(state.items())


def test_tx_upsert_matches_overwrite_sink_semantics(spark, tmp_path):
    """The same epoch sequence through the transactional table and
    through the pure-Python last-writer-wins model must land on
    identical contents, after every epoch."""
    tx = str(tmp_path / "tx")
    for i, rows in enumerate(EPOCHS):
        tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=8,
                        order_col="v", epoch_id=i)
        assert _content(spark, tx) == _lww(EPOCHS[: i + 1])
    assert _lww(EPOCHS) == FINAL


def test_tx_crash_before_commit_leaves_old_snapshot_bitwise(spark, tmp_path, monkeypatch):
    """Kill the writer between data-file write and manifest link: the
    table must still read as the previous snapshot, and the replayed
    epoch must converge to exactly one application."""
    tx = str(tmp_path / "tx")
    tx_table.upsert(spark, tx, _batch(spark, EPOCHS[0]), ["k"], n_buckets=8,
                    order_col="v", epoch_id=0)
    before = _content(spark, tx)
    v_before = tx_table.latest_version(tx)

    real_commit = tx_table._commit

    def crash(*a, **k):
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(tx_table, "_commit", crash)
    with pytest.raises(RuntimeError, match="injected"):
        tx_table.upsert(spark, tx, _batch(spark, EPOCHS[1]), ["k"], n_buckets=8,
                        order_col="v", epoch_id=1)
    # orphan data files exist on disk, but the table is untouched
    assert tx_table.latest_version(tx) == v_before
    assert _content(spark, tx) == before

    monkeypatch.setattr(tx_table, "_commit", real_commit)
    tx_table.upsert(spark, tx, _batch(spark, EPOCHS[1]), ["k"], n_buckets=8,
                    order_col="v", epoch_id=1)  # foreachBatch replay
    assert _content(spark, tx) == {("a", 9), ("b", 2), ("c", 3), ("d", 4), ("e", 5)}


def test_tx_replay_after_successful_commit_is_noop(spark, tmp_path):
    """foreachBatch is at-least-once: a replay of an epoch that DID
    commit (crash after commit, before checkpoint ack) must not create
    a new version or change contents."""
    tx = str(tmp_path / "tx")
    for i, rows in enumerate(EPOCHS):
        tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=8,
                        order_col="v", epoch_id=i)
    v = tx_table.latest_version(tx)
    got = tx_table.upsert(spark, tx, _batch(spark, EPOCHS[2]), ["k"], n_buckets=8,
                          order_col="v", epoch_id=2)  # verbatim replay
    assert got == v == tx_table.latest_version(tx)
    assert _content(spark, tx) == FINAL


def test_tx_concurrent_commit_conflict_retries(spark, tmp_path, monkeypatch):
    """Optimistic concurrency: when another writer steals the version,
    the loser must retry on the fresh snapshot and fold BOTH writes."""
    tx = str(tmp_path / "tx")
    tx_table.upsert(spark, tx, _batch(spark, EPOCHS[0]), ["k"], n_buckets=8,
                    order_col="v", epoch_id=0)

    real_commit = tx_table._commit
    raced = {"done": False}

    def race_once(table_dir, version, manifest):
        if not raced["done"]:
            raced["done"] = True
            # a competing writer lands epoch 1 first, at this version
            tx_table.upsert(spark, tx, _batch(spark, [("z", 100)]), ["k"],
                            n_buckets=8, order_col="v", epoch_id=1)
        return real_commit(table_dir, version, manifest)

    monkeypatch.setattr(tx_table, "_commit", race_once)
    tx_table.upsert(spark, tx, _batch(spark, [("a", 50)]), ["k"], n_buckets=8,
                    order_col="v", epoch_id=2)
    assert raced["done"]
    assert _content(spark, tx) == {("a", 50), ("b", 2), ("c", 3), ("d", 4), ("z", 100)}
    # both the competing commit and the retried commit are in the log
    assert [h["epoch"] for h in tx_table.history(tx)] == [0, 1, 2]


def test_tx_only_affected_buckets_rewritten(spark, tmp_path, small_files):
    """The new manifest must reference every file that holds no
    affected bucket BY PATH from the previous commit — the
    copy-on-write contract, checkable at the metadata level. Only the
    one file that may hold the upserted key's bucket is rewritten, and
    its replacement holds the same buckets."""
    tx = str(tmp_path / "tx")
    rows0 = [(f"key{i}", i) for i in range(200)]
    tx_table.upsert(spark, tx, _batch(spark, rows0), ["k"], n_buckets=16,
                    order_col="v", epoch_id=0)
    m0 = tx_table.read_manifest(tx, 0)
    assert len(m0["files"]) > 2  # the table is packed into several files

    tx_table.upsert(spark, tx, _batch(spark, [("key7", 999)]), ["k"], n_buckets=16,
                    order_col="v", epoch_id=1)
    m1 = tx_table.read_manifest(tx, 1)
    hit = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("key7")), F.lit(16)).cast("int").alias("kb")
    ).first().kb
    old = {f["path"]: set(tx_table._kbs(f)) for f in m0["files"]}
    new = {f["path"]: set(tx_table._kbs(f)) for f in m1["files"]}
    dropped = set(old) - set(new)
    fresh = set(new) - set(old)
    assert [hit in old[p] for p in dropped] == [True]  # only hit's file rewritten
    assert {p for p in old if hit not in old[p]} <= set(new)  # the rest by path
    assert set().union(*(new[p] for p in fresh)) == old[dropped.pop()]
    got = _content(spark, tx)
    assert ("key7", 999) in got and len(got) == 200


def test_tx_time_travel_and_history(spark, tmp_path):
    tx = str(tmp_path / "tx")
    for i, rows in enumerate(EPOCHS):
        tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=8,
                        order_col="v", epoch_id=i)
    assert _content(spark, tx, version=0) == {("a", 1), ("b", 2), ("c", 3), ("d", 4)}
    assert _content(spark, tx, version=1) == {("a", 9), ("b", 2), ("c", 3), ("d", 4), ("e", 5)}
    assert _content(spark, tx, version=2) == FINAL
    hist = tx_table.history(tx)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert all(h["op"] == "upsert" for h in hist)


def test_tx_vacuum_drops_orphans_keeps_live(spark, tmp_path, monkeypatch):
    tx = str(tmp_path / "tx")
    for i, rows in enumerate(EPOCHS):
        tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=8,
                        order_col="v", epoch_id=i)
    # orphan an attempt: crash before commit
    monkeypatch.setattr(tx_table, "_commit",
                        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash")))
    with pytest.raises(RuntimeError):
        tx_table.upsert(spark, tx, _batch(spark, [("q", 1)]), ["k"], n_buckets=8,
                        order_col="v", epoch_id=3)
    monkeypatch.undo()

    n_files_before = len(list(pathlib.Path(tx, "data").rglob("*.parquet")))
    live = {f["path"] for f in tx_table.read_manifest(tx, 2)["files"]}
    assert n_files_before > len(live)  # rewritten buckets + the orphan attempt

    # retention 0: the crashed attempt (which targets latest+1, like an
    # in-flight writer would) is old enough to sweep immediately
    deleted = tx_table.vacuum(tx, keep_versions=1, retention_seconds=0.0)
    assert deleted  # something was actually swept
    remaining = {
        str(p.relative_to(pathlib.Path(tx, "data")))
        for p in pathlib.Path(tx, "data").rglob("*.parquet")
    }
    assert remaining == live
    assert _content(spark, tx) == FINAL
    assert tx_table.list_versions(tx) == [2]  # time travel bounded by retention


def test_tx_vacuum_spares_inflight_writer_staging(spark, tmp_path):
    """A FRESH transaction directory targeting a version newer than
    the latest commit may belong to a writer that hasn't committed yet
    — inside the retention window vacuum must not delete it out from
    under them."""
    tx = str(tmp_path / "tx")
    tx_table.upsert(spark, tx, _batch(spark, EPOCHS[0]), ["k"], n_buckets=8,
                    order_col="v", epoch_id=0)
    staging = pathlib.Path(tx, "data", "txn-0000000001-deadbeef", "b00001")
    staging.mkdir(parents=True)
    (staging / "part-0.parquet").write_bytes(b"inflight")
    tx_table.vacuum(tx, keep_versions=1)
    assert (staging / "part-0.parquet").exists()


def test_tx_compact_preserves_content_and_epochs(spark, tmp_path):
    tx = str(tmp_path / "tx")
    for i, rows in enumerate(EPOCHS):
        tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=4,
                        order_col="v", epoch_id=i)
    v = tx_table.compact(spark, tx)
    assert v == 3
    assert _content(spark, tx) == FINAL
    m = tx_table.read_manifest(tx, v)
    assert m["op"] == "compact"
    # all files now live in the single compaction transaction
    assert len({f["path"].split("/")[0] for f in m["files"]}) == 1
    # epoch ledger survives compaction: replays are still no-ops
    tx_table.upsert(spark, tx, _batch(spark, EPOCHS[1]), ["k"], n_buckets=4,
                    order_col="v", epoch_id=1)
    assert tx_table.latest_version(tx) == v
    assert _content(spark, tx) == FINAL


def test_tx_compact_on_emptied_table_is_noop(spark, tmp_path):
    """A table whose every row was deleted has no live files; compact
    returns its version without committing (it used to divide by the
    zero write groups of an empty snapshot)."""
    tx = str(tmp_path / "tx")
    tx_table.upsert(spark, tx, _batch(spark, [("a", 1), ("b", 2)]), ["k"],
                    n_buckets=4, order_col="v", epoch_id=0)
    v = tx_table.delete_where(spark, tx, F.lit(True))
    assert tx_table.read_manifest(tx, v)["files"] == []
    assert tx_table.compact(spark, tx) == v
    assert tx_table.latest_version(tx) == v
    assert _content(spark, tx) == set()


def test_tx_bucket_pruned_point_lookup(spark, tmp_path, small_files):
    """Manifest-level pruning: a point lookup resolves the key's
    bucket on the driver, scans only the files that may hold it, and
    returns exactly that bucket's rows."""
    tx = str(tmp_path / "tx")
    rows0 = [(f"key{i}", i) for i in range(200)]
    tx_table.upsert(spark, tx, _batch(spark, rows0), ["k"], n_buckets=16,
                    order_col="v", epoch_id=0)
    hit = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("key7")), F.lit(16)).cast("int").alias("kb")
    ).first().kb
    df = tx_table.read_table(spark, tx, buckets=[hit])
    got = {(r.k, r.v) for r in df.filter(F.col("k") == "key7").select("k", "v").collect()}
    assert got == {("key7", 7)}
    # the pruned frame scans a strict subset of the table's files ...
    m = tx_table.read_manifest(tx, 0)
    holding = [f["path"] for f in m["files"] if hit in tx_table._kbs(f)]
    assert 0 < len(holding) < len(m["files"])
    assert sorted(p.split("/data/")[-1] for p in df.inputFiles()) == sorted(holding)
    # ... and keeps only the requested bucket's rows of those files
    assert {r.kb for r in df.select("kb").distinct().collect()} == {hit}
    in_hit = F.pmod(F.xxhash64("k"), F.lit(16)) == hit
    assert df.count() == _batch(spark, rows0).filter(in_hit).count() > 0


def test_tx_foreachbatch_stream_matches_batch(spark, tmp_path):
    """End to end through a real Structured Streaming query: the
    upsert_tx sink over a file stream lands the same last-writer-wins
    table a batch merge would."""
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(EPOCHS):
        _batch(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"tile{i}")
        )
    tx = str(tmp_path / "tx")
    stream = (
        spark.readStream.schema("k string, v int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "tile*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            tx_table.upsert_tx(tx, ["k"], n_buckets=8, order_col="v")
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # file-stream epoch order is nondeterministic across tiles, so
    # compare against the batch LWW over (epoch from tile id, v)
    union = spark.read.option("basePath", str(src)).parquet(str(src / "tile*"))
    got = _content(spark, tx)
    keys = {k for k, _ in got}
    assert keys == {"a", "b", "c", "d", "e"}
    assert len(got) == len(keys)  # exactly one row per key
    assert tx_table.latest_version(tx) == 2
    assert sorted(h["epoch"] for h in tx_table.history(tx)) == [0, 1, 2]
    assert union.count() == 8  # sanity: all tiles fed the stream


def test_pipeline_atomic_sink_matches_batch(spark, sf_small, tmp_path):
    """The 4-query reference pipeline built from an old caller's
    atomic=True config lands the same Q1/Q2 tables as the batch twins,
    committed through the manifest log with one version per
    micro-batch epoch."""
    from real_time_event_streaming_pipeline_spark.plans.citystream import (
        city_events,
        enrich_events,
        windowed_agg,
    )
    from real_time_event_streaming_pipeline_spark.sources import events_file_stream
    from real_time_event_streaming_pipeline_spark.streaming.pipeline import (
        PipelineConfig,
        run_to_completion,
        start_pipeline,
    )

    cfg = PipelineConfig(out_dir=str(tmp_path), atomic=True)
    src = events_file_stream(spark, sf_small)
    run_to_completion(start_pipeline(spark, src, cfg))

    got = tx_table.read_table(spark, cfg.path("aggregations")).drop("_epoch", "kb")
    want = windowed_agg(city_events(spark, sf_small))
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    # every raw event landed through the manifest too
    raw = tx_table.read_table(spark, cfg.path("raw_events"))
    assert raw.count() == enrich_events(city_events(spark, sf_small)).count()
    # the log shows committed, epoch-tagged history: one version per epoch
    for name in ("aggregations", "raw_events"):
        hist = tx_table.history(cfg.path(name))
        assert hist and all(h["op"] == "upsert" for h in hist)
        epochs = [h["epoch"] for h in hist]
        assert epochs == sorted(set(epochs))
        assert tx_table.latest_version(cfg.path(name)) == len(hist) - 1


def test_tx_file_stats_and_data_skipping(spark, tmp_path, tiny_files):
    """With stats_cols set, every new file entry carries min/max and
    read_table(between=...) provably skips non-overlapping files while
    still returning a superset of the matching rows."""
    tx = str(tmp_path / "tx")
    # few rows per file, so files get distinct v ranges
    rows = [(f"key{i}", i * 10) for i in range(64)]
    tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=16,
                    order_col="v", epoch_id=0, stats_cols=["v"])
    m = tx_table.read_manifest(tx, 0)
    assert m["stats_cols"] == ["v"]
    assert all("stats" in f and set(f["stats"]) == {"v"} for f in m["files"])
    for f in m["files"]:
        lo, hi = f["stats"]["v"]
        assert 0 <= lo <= hi <= 630

    want = {(k, v) for k, v in rows if 100 <= v <= 140}
    pruned = tx_table.prune_files(m, {"v": (100, 140)})
    assert 0 < len(pruned) < len(m["files"])  # skipping actually bites
    df = tx_table.read_table(spark, tx, between={"v": (100, 140)})
    got_superset = {(r.k, r.v) for r in df.select("k", "v").collect()}
    assert want <= got_superset  # superset contract
    exact = {(r.k, r.v) for r in df.filter(F.col("v").between(100, 140)).select("k", "v").collect()}
    assert exact == want
    # every matching row's file survived pruning (nothing lost)
    assert len(got_superset) < len(rows)  # and something was skipped


def test_tx_stats_cols_sticky_across_epochs_and_compaction(spark, tmp_path):
    """One opt-in records stats for the table's lifetime: later epochs
    (no stats_cols arg) and compaction keep collecting them, and
    carried-over files keep the stats they had."""
    tx = str(tmp_path / "tx")
    tx_table.upsert(spark, tx, _batch(spark, [("a", 1), ("b", 2)]), ["k"],
                    n_buckets=4, order_col="v", epoch_id=0, stats_cols=["v"])
    tx_table.upsert(spark, tx, _batch(spark, [("c", 30)]), ["k"],
                    n_buckets=4, order_col="v", epoch_id=1)  # no stats_cols arg
    m1 = tx_table.read_manifest(tx, 1)
    assert m1["stats_cols"] == ["v"]
    assert all("stats" in f for f in m1["files"])
    v = tx_table.compact(spark, tx)
    m2 = tx_table.read_manifest(tx, v)
    assert all("stats" in f for f in m2["files"])
    # ranges survived the rewrite correctly
    all_lo = min(f["stats"]["v"][0] for f in m2["files"])
    all_hi = max(f["stats"]["v"][1] for f in m2["files"])
    assert (all_lo, all_hi) == (1, 30)


def test_tx_schema_mismatch_fails_loudly_by_default(spark, tmp_path):
    tx = str(tmp_path / "tx")
    tx_table.upsert(spark, tx, _batch(spark, EPOCHS[0]), ["k"], n_buckets=4,
                    order_col="v", epoch_id=0)
    widened = spark.createDataFrame([("e", 5, "web")], "k string, v int, src string")
    with pytest.raises(ValueError, match="merge_schema"):
        tx_table.upsert(spark, tx, widened, ["k"], n_buckets=4,
                        order_col="v", epoch_id=1)


def test_tx_additive_schema_evolution(spark, tmp_path):
    """merge_schema=True: the new column lands in the same atomic
    commit; rows from earlier epochs — INCLUDING files in untouched
    buckets that were never rewritten — read back with NULL for it,
    and time travel still shows the old schema."""
    tx = str(tmp_path / "tx")
    rows0 = [(f"key{i}", i) for i in range(40)]  # spread over buckets
    tx_table.upsert(spark, tx, _batch(spark, rows0), ["k"], n_buckets=8,
                    order_col="v", epoch_id=0)
    widened = spark.createDataFrame([("key7", 999, "web")], "k string, v int, src string")
    tx_table.upsert(spark, tx, widened, ["k"], n_buckets=8,
                    order_col="v", epoch_id=1, merge_schema=True)

    df = tx_table.read_table(spark, tx)
    assert "src" in df.columns
    got = {(r.k, r.v, r.src) for r in df.select("k", "v", "src").collect()}
    assert ("key7", 999, "web") in got
    # untouched-bucket rows surface with NULL src via the manifest schema
    assert ("key3", 3, None) in got
    assert len(got) == 40
    # time travel: version 0 predates the evolution
    assert "src" not in tx_table.read_table(spark, tx, version=0).columns
    # compaction preserves the evolved schema
    v = tx_table.compact(spark, tx)
    assert "src" in tx_table.read_table(spark, tx, version=v).columns


def test_tx_delete_removes_keys_atomically(spark, tmp_path, tiny_files):
    """Keyed DELETE: matching rows vanish in one commit, files holding
    no deleted key's bucket carry over by path, replay is exactly-once,
    and the deleted state is a time-travelable version."""
    tx = str(tmp_path / "tx")
    rows0 = [(f"key{i}", i) for i in range(40)]
    tx_table.upsert(spark, tx, _batch(spark, rows0), ["k"], n_buckets=8,
                    order_col="v", epoch_id=0)
    m0 = tx_table.read_manifest(tx, 0)

    keys = spark.createDataFrame([("key7",), ("key9",)], "k string")
    v = tx_table.delete(spark, tx, keys, epoch_id=1)
    assert v == 1
    got = _content(spark, tx)
    assert {k for k, _ in got} == {f"key{i}" for i in range(40)} - {"key7", "key9"}

    # exactly-once: replaying the delete epoch is a no-op
    assert tx_table.delete(spark, tx, keys, epoch_id=1) == v
    assert tx_table.latest_version(tx) == v

    # files holding no touched bucket were not rewritten
    m1 = tx_table.read_manifest(tx, 1)
    hit = {
        r.kb
        for r in spark.createDataFrame([("key7",), ("key9",)], "k string")
        .select(F.pmod(F.xxhash64("k"), F.lit(8)).cast("int").alias("kb"))
        .collect()
    }
    old_paths = {f["path"] for f in m0["files"] if not hit & set(tx_table._kbs(f))}
    assert old_paths and old_paths <= {f["path"] for f in m1["files"]}
    assert m1["op"] == "delete"

    # time travel still sees the pre-delete table
    assert ("key7", 7) in _content(spark, tx, version=0)

    # delete-then-upsert of the same key resurrects it cleanly
    tx_table.upsert(spark, tx, _batch(spark, [("key7", 700)]), ["k"], n_buckets=8,
                    order_col="v", epoch_id=2)
    assert ("key7", 700) in _content(spark, tx)


def test_tx_delete_key_column_mismatch_fails(spark, tmp_path):
    tx = str(tmp_path / "tx")
    tx_table.upsert(spark, tx, _batch(spark, EPOCHS[0]), ["k"], n_buckets=4,
                    order_col="v", epoch_id=0)
    with pytest.raises(ValueError, match="columns"):
        tx_table.delete(spark, tx, spark.createDataFrame([(1,)], "wrong int"))


def test_tx_delete_where_with_file_skipping(spark, tmp_path, tiny_files):
    """Predicate delete prunes candidate files via min/max stats and
    rewrites ONLY them; files whose range can't match carry over by
    path untouched, and the result is exact."""
    tx = str(tmp_path / "tx")
    rows = [(f"key{i}", i) for i in range(64)]
    tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=16,
                    order_col="v", epoch_id=0, stats_cols=["v"])
    m0 = tx_table.read_manifest(tx, 0)
    candidates = {f["path"] for f in tx_table.prune_files(m0, {"v": (None, 10)})}
    assert 0 < len(candidates) < len(m0["files"])

    v = tx_table.delete_where(spark, tx, F.col("v") <= 10,
                              between={"v": (None, 10)}, epoch_id=1)
    got = _content(spark, tx)
    assert got == {(k, x) for k, x in rows if x > 10}
    m1 = tx_table.read_manifest(tx, v)
    assert m1["op"] == "delete_where"
    untouched = {f["path"] for f in m0["files"]} - candidates
    assert untouched <= {f["path"] for f in m1["files"]}  # carried by path
    assert not candidates & {f["path"] for f in m1["files"]}  # all rewritten
    # replay is exactly-once
    assert tx_table.delete_where(spark, tx, F.col("v") <= 10,
                                 between={"v": (None, 10)}, epoch_id=1) == v
    assert tx_table.latest_version(tx) == v


def test_tx_delete_where_noop_when_stats_prove_empty(spark, tmp_path):
    tx = str(tmp_path / "tx")
    tx_table.upsert(spark, tx, _batch(spark, [("a", 5), ("b", 9)]), ["k"],
                    n_buckets=4, order_col="v", epoch_id=0, stats_cols=["v"])
    v0 = tx_table.latest_version(tx)
    v = tx_table.delete_where(spark, tx, F.col("v") > 100, between={"v": (101, None)})
    assert v == v0  # no commit at all: every file skipped
    assert _content(spark, tx) == {("a", 5), ("b", 9)}


def test_tx_atomic_ttl_retention(spark, sf_small, tmp_path):
    """run_retention expires rows through one delete_where commit with
    ttl-stats skipping; the table never loses unexpired rows, and a
    repeated pass at the same cutoff expires nothing and commits
    nothing."""
    from real_time_event_streaming_pipeline_spark.sources import events_file_stream
    from real_time_event_streaming_pipeline_spark.streaming.pipeline import (
        PipelineConfig,
        run_retention,
        run_to_completion,
        start_pipeline,
    )

    cfg = PipelineConfig(out_dir=str(tmp_path), with_ttl=True, atomic=True)
    src = events_file_stream(spark, sf_small)
    run_to_completion(start_pipeline(spark, src, cfg))

    table = cfg.path("raw_events")
    raw = tx_table.read_table(spark, table)
    ttls = sorted(r.ttl for r in raw.select("ttl").collect())
    assert ttls
    cutoff = ttls[len(ttls) // 2]
    v0 = tx_table.latest_version(table)
    stats = run_retention(spark, cfg, now_epoch=cutoff)
    kept = tx_table.read_table(spark, table)
    n_expired = sum(1 for t in ttls if t <= cutoff)
    assert stats["expired_rows"] == n_expired
    assert stats["rows_after"] == len(ttls) - n_expired
    assert kept.count() == len(ttls) - n_expired
    assert kept.filter(F.col("ttl") <= cutoff).count() == 0
    assert tx_table.latest_version(table) == v0 + 1
    assert tx_table.history(table)[-1]["op"] == "delete_where"

    again = run_retention(spark, cfg, now_epoch=cutoff)
    assert again == {"expired_rows": 0, "rows_after": len(ttls) - n_expired}
    assert tx_table.latest_version(table) == v0 + 1


def test_tx_change_data_feed(spark, tmp_path):
    """read_changes reconstructs each commit's CDF rows from the
    manifest diff: inserts, update pre/post images, deletes — and
    carried-over winners inside rewritten buckets are NOT changes."""
    tx = str(tmp_path / "tx")
    for i, rows in enumerate(EPOCHS):
        tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=2,
                        order_col="v", epoch_id=i)  # 2 buckets: rewrites carry rows

    def changes(v):
        df = tx_table.read_changes(spark, tx, v)
        return (
            set()
            if df is None
            else {(r.k, r.v, r._change_type) for r in df.select("k", "v", "_change_type").collect()}
        )

    assert changes(0) == {(k, v, "insert") for k, v in EPOCHS[0]}
    assert changes(1) == {
        ("a", 1, "update_preimage"), ("a", 9, "update_postimage"),
        ("e", 5, "insert"),
    }
    assert changes(2) == {
        ("a", 9, "update_preimage"), ("a", 8, "update_postimage"),
        ("b", 2, "update_preimage"), ("b", 7, "update_postimage"),
    }

    # keyed delete produces delete rows
    v = tx_table.delete(spark, tx, spark.createDataFrame([("c",)], "k string"),
                        epoch_id=10)
    assert changes(v) == {("c", 3, "delete")}

    # compaction is not a change
    vc = tx_table.compact(spark, tx)
    assert tx_table.read_changes(spark, tx, vc) is None

    # predicate delete produces delete rows too
    vw = tx_table.delete_where(spark, tx, F.col("v") >= 8, epoch_id=11)
    assert changes(vw) == {("a", 8, "delete")}


# ------------------------------------------------- model-based check

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_KEYS = ["a", "b", "c", "d", "e", "f"]
_OP = st.one_of(
    st.tuples(
        st.just("upsert"),
        st.lists(
            st.tuples(st.sampled_from(_KEYS), st.integers(0, 999)),
            min_size=1, max_size=4, unique_by=lambda kv: kv[0],
        ),
    ),
    st.tuples(
        st.just("delete"),
        st.tuples(
            st.lists(st.sampled_from(_KEYS), min_size=1, max_size=2, unique=True),
            st.sampled_from(["cow", "dv"]),
        ),
    ),
    st.tuples(
        st.just("delete_where"),
        st.tuples(st.integers(0, 999), st.sampled_from(["cow", "dv"])),
    ),
    st.tuples(
        st.just("update_where"),
        st.tuples(st.integers(0, 999), st.sampled_from(["cow", "dv"])),
    ),
    st.tuples(
        st.just("merge"),
        st.tuples(
            st.lists(
                st.tuples(st.sampled_from(_KEYS), st.integers(-200, 999)),
                min_size=1, max_size=3, unique_by=lambda kv: kv[0],
            ),
            st.sampled_from(["cow", "dv"]),
        ),
    ),
)


@given(ops=st.lists(_OP, min_size=1, max_size=5))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_tx_model_based_dml_sequences(spark, tmp_path_factory, ops):
    """Any sequence of keyed upserts, keyed/predicate deletes (cow or
    deletion-vector), predicate updates (cow or dv), and MERGEs
    (matched-delete on negative source values, matched-update, insert)
    must leave the table exactly where a driver-side dict model lands
    — and every historical version must equal the model's state at
    that point."""
    tmp = tmp_path_factory.mktemp("txmodel")
    tx = str(tmp / "t")
    model: dict[str, int] = {}
    states = []
    last_version = -1
    for i, (kind, payload) in enumerate(ops):
        if kind == "upsert":
            v = tx_table.upsert(spark, tx, _batch(spark, payload), ["k"],
                                n_buckets=4, order_col="v", epoch_id=i)
            model.update(dict(payload))
        elif kind == "delete_where":
            if last_version < 0:
                continue  # DML on an empty table raises by contract
            thr, mode = payload
            v = tx_table.delete_where(spark, tx, F.col("v") <= thr,
                                      epoch_id=i, mode=mode)
            model = {k: x for k, x in model.items() if x > thr}
        elif kind == "update_where":
            if last_version < 0:
                continue
            thr, mode = payload
            v = tx_table.update_where(spark, tx, F.col("v") <= thr,
                                      {"v": F.col("v") + 1000},
                                      epoch_id=i, mode=mode)
            model = {k: (x + 1000 if x <= thr else x) for k, x in model.items()}
        elif kind == "merge":
            if last_version < 0:
                continue
            payload, mode = payload
            src = _batch(spark, payload)
            v = tx_table.merge(
                spark, tx, src,
                when_matched_update={"v": F.col("_src_v")},
                when_matched_delete=F.col("_src_v") < 0,
                epoch_id=i, mode=mode,
            )
            for k, val in payload:
                if k in model and val < 0:
                    model.pop(k)
                else:
                    model[k] = val
        else:
            if last_version < 0:
                continue
            keys_list, mode = payload
            keys = spark.createDataFrame([(k,) for k in keys_list], "k string")
            v = tx_table.delete(spark, tx, keys, epoch_id=i, mode=mode)
            for k in keys_list:
                model.pop(k, None)
        if v > last_version:  # no-op DML commits nothing
            last_version = v
            states.append(dict(model))
    if not states:
        return
    assert _content(spark, tx) == set(states[-1].items())
    # time travel agrees with the model at every committed version
    for v, snap_model in enumerate(states):
        assert _content(spark, tx, version=v) == set(snap_model.items())


def test_tx_true_concurrent_writers(spark, tmp_path):
    """Two real threads upsert interleaved epochs with genuine
    os.link commit races: every epoch must land exactly once, the
    version log must be gapless, and the final table must equal the
    deterministic last-writer-wins model."""
    import threading

    tx = str(tmp_path / "tx")
    # both writers touch overlapping keys; values encode (writer, i)
    def work(writer_id: int, errors: list):
        try:
            for i in range(5):
                rows = [(f"key{(i + j) % 6}", writer_id * 1000 + i) for j in range(2)]
                tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=4,
                                order_col="v", epoch_id=writer_id * 100 + i)
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    errors: list = []
    t1 = threading.Thread(target=work, args=(1, errors))
    t2 = threading.Thread(target=work, args=(2, errors))
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errors, errors

    hist = tx_table.history(tx)
    versions = [h["version"] for h in hist]
    assert versions == list(range(10))  # gapless: every commit landed
    epochs = [h["epoch"] for h in hist]
    assert sorted(epochs) == [100, 101, 102, 103, 104, 200, 201, 202, 203, 204]

    # LWW model: the dedupe orders by EPOCH ID (not commit order), so
    # per key the survivor is the largest epoch id that wrote it,
    # regardless of how the two writers' commits interleaved
    got = _content(spark, tx)
    assert {k for k, _ in got} <= {f"key{n}" for n in range(6)}
    wrote: dict[str, int] = {}
    for e in epochs:
        w, i = divmod(e, 100)
        for j in range(2):
            k = f"key{(i + j) % 6}"
            if e >= wrote.get(k, -1):
                wrote[k] = e
    want = {(k, (e // 100) * 1000 + (e % 100)) for k, e in wrote.items()}
    assert got == want


def test_tx_clustered_compaction_sharpens_data_skipping(spark, tmp_path):
    """compact(sort_cols, max_records_per_file) clusters rows by the
    stats column inside each bucket and splits buckets into several
    files with near-disjoint ranges — a range read then prunes to a
    small fraction of the files, where the unclustered layout keeps
    nearly all of them."""
    tx = str(tmp_path / "tx")
    import random

    rng = random.Random(7)
    rows = [(f"key{i}", v) for i, v in enumerate(rng.sample(range(1000), 1000))]
    tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=2,
                    order_col="v", epoch_id=0, stats_cols=["v"])
    m0 = tx_table.read_manifest(tx, 0)
    # unclustered: value ranges span nearly everything -> no pruning
    assert len(tx_table.prune_files(m0, {"v": (0, 49)})) == len(m0["files"])

    v = tx_table.compact(spark, tx, sort_cols=["v"], max_records_per_file=100)
    m1 = tx_table.read_manifest(tx, v)
    assert len(m1["files"]) >= 10  # buckets actually split into chunks
    pruned = tx_table.prune_files(m1, {"v": (0, 49)})
    assert len(pruned) <= max(2, len(m1["files"]) // 4)  # skipping bites
    # correctness: the pruned read still contains every matching row
    df = tx_table.read_table(spark, tx, between={"v": (0, 49)})
    got = {(r.k, r.v) for r in df.filter(F.col("v").between(0, 49)).select("k", "v").collect()}
    assert got == {(k, x) for k, x in rows if x <= 49}


def test_tx_schema_gate_holds_on_empty_buckets(spark, tmp_path):
    """Review regression: an upsert whose keys land only in buckets
    holding no files must STILL be schema-gated against the manifest,
    and an evolved table's schema must never be narrowed by a
    narrow-batch upsert into empty buckets."""
    tx = str(tmp_path / "tx")
    tx_table.upsert(spark, tx, _batch(spark, [("a", 1)]), ["k"], n_buckets=64,
                    order_col="v", epoch_id=0)
    wide = spark.createDataFrame([("a", 2, "web")], "k string, v int, src string")
    tx_table.upsert(spark, tx, wide, ["k"], n_buckets=64, order_col="v",
                    epoch_id=1, merge_schema=True)
    # find a key hashing to a bucket with no files
    probe = spark.createDataFrame([(f"p{i}",) for i in range(200)], "k string")
    used = {kb for f in tx_table.read_manifest(tx, 1)["files"] for kb in tx_table._kbs(f)}
    empt = probe.select(
        "k", F.pmod(F.xxhash64("k"), F.lit(64)).cast("int").alias("kb")
    ).filter(~F.col("kb").isin(*used)).first()
    assert empt is not None
    narrow = _batch(spark, [(empt.k, 9)])
    with pytest.raises(ValueError, match="merge_schema"):
        tx_table.upsert(spark, tx, narrow, ["k"], n_buckets=64, order_col="v",
                        epoch_id=2)
    tx_table.upsert(spark, tx, narrow, ["k"], n_buckets=64, order_col="v",
                    epoch_id=2, merge_schema=True)
    df = tx_table.read_table(spark, tx)
    assert "src" in df.columns  # schema not narrowed
    got = {(r.k, r.v, r.src) for r in df.select("k", "v", "src").collect()}
    assert got == {("a", 2, "web"), (empt.k, 9, None)}


def test_tx_bucketing_identity_enforced(spark, tmp_path):
    """Review regression: an upsert with a different n_buckets or
    key_cols than the table's manifest must refuse loudly (a silent
    mismatch would scatter one key across two buckets and break LWW)."""
    tx = str(tmp_path / "tx")
    tx_table.upsert(spark, tx, _batch(spark, [("a", 1)]), ["k"], n_buckets=8,
                    order_col="v", epoch_id=0)
    with pytest.raises(ValueError, match="n_buckets"):
        tx_table.upsert(spark, tx, _batch(spark, [("a", 2)]), ["k"], n_buckets=16,
                        order_col="v", epoch_id=1)


def test_tx_atomic_retention_expiring_everything(spark, tmp_path):
    """Review regression: retention that expires every row (and a
    second pass over the already-empty table) must return zeros, not
    crash on the empty manifest."""
    from real_time_event_streaming_pipeline_spark.streaming.pipeline import (
        PipelineConfig,
        run_retention,
    )

    cfg = PipelineConfig(out_dir=str(tmp_path), with_ttl=True)
    table = cfg.path("raw_events")
    rows = spark.createDataFrame([("e1", 100), ("e2", 200)], "event_key string, ttl long")
    tx_table.upsert(spark, table, rows, ["event_key"], n_buckets=4,
                    order_col="ttl", epoch_id=0, stats_cols=["ttl"])
    stats = run_retention(spark, cfg, now_epoch=10_000)
    assert stats == {"expired_rows": 2, "rows_after": 0}
    stats2 = run_retention(spark, cfg, now_epoch=10_000)
    assert stats2 == {"expired_rows": 0, "rows_after": 0}


def test_tx_metadata_only_count(spark, tmp_path):
    """With stats enabled, COUNT(*) is answered from the manifest
    alone and tracks upserts, deletes, and compaction; without stats
    it returns None (caller falls back to a real count)."""
    tx = str(tmp_path / "tx")
    rows = [(f"key{i}", i) for i in range(30)]
    tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=4,
                    order_col="v", epoch_id=0, stats_cols=["v"])
    assert tx_table.table_count(tx) == 30 == tx_table.read_table(spark, tx).count()
    tx_table.upsert(spark, tx, _batch(spark, [("key3", 99), ("new", 1)]), ["k"],
                    n_buckets=4, order_col="v", epoch_id=1)
    assert tx_table.table_count(tx) == 31  # one update + one insert
    tx_table.delete(spark, tx, spark.createDataFrame([("key7",)], "k string"),
                    epoch_id=2)
    assert tx_table.table_count(tx) == 30
    v = tx_table.compact(spark, tx)
    assert tx_table.table_count(tx, version=v) == 30
    assert tx_table.table_count(tx, version=0) == 30

    # stats never enabled -> None, not a wrong number
    bare = str(tmp_path / "bare")
    tx_table.upsert(spark, bare, _batch(spark, rows), ["k"], n_buckets=4,
                    order_col="v", epoch_id=0)
    assert tx_table.table_count(bare) is None
    assert tx_table.table_count(str(tmp_path / "missing")) == 0


def test_tx_retention_counts_without_stats_fallback(spark, tmp_path):
    """run_retention's expired_rows must stay correct when the table
    has no per-file n_rows stats (table_count returns None): the count
    falls back to a real scan pinned to the same manifest versions."""
    from real_time_event_streaming_pipeline_spark.streaming.pipeline import (
        PipelineConfig,
        run_retention,
    )

    cfg = PipelineConfig(out_dir=str(tmp_path), with_ttl=True)
    table = cfg.path("raw_events")
    rows = spark.createDataFrame(
        [("e1", 100), ("e2", 200), ("e3", 300)], "event_key string, ttl long"
    )
    # NO stats_cols: prune keeps every file, counts use the scan path
    tx_table.upsert(spark, table, rows, ["event_key"], n_buckets=4,
                    order_col="ttl", epoch_id=0)
    assert tx_table.table_count(table) is None
    stats = run_retention(spark, cfg, now_epoch=150)
    assert stats == {"expired_rows": 1, "rows_after": 2}
    stats2 = run_retention(spark, cfg, now_epoch=150)
    assert stats2 == {"expired_rows": 0, "rows_after": 2}


def test_tx_epoch_ledger_scoped_per_app(spark, tmp_path):
    """Exactly-once is scoped by writer app id (Delta's txnAppId
    pattern, ADVICE r4): two independent writers with overlapping
    epoch counters must BOTH apply; a replay within one app stays a
    no-op; and a restarted query presenting a fresh app id is not
    swallowed by the previous run's ledger."""
    tx = str(tmp_path / "tx")
    tx_table.upsert(spark, tx, _batch(spark, [("a", 1)]), ["k"], n_buckets=4,
                    order_col="v", epoch_id=0, app_id="runA")
    # same epoch id, DIFFERENT app: applies
    v = tx_table.upsert(spark, tx, _batch(spark, [("a", 2)]), ["k"], n_buckets=4,
                        order_col="v", epoch_id=0, app_id="runB")
    assert _content(spark, tx) == {("a", 2)}
    # replay within runB: no-op
    assert tx_table.upsert(spark, tx, _batch(spark, [("a", 99)]), ["k"],
                           n_buckets=4, order_col="v", epoch_id=0,
                           app_id="runB") == v
    assert _content(spark, tx) == {("a", 2)}
    # fresh-checkpoint restart = fresh app id: epoch 0 applies again
    tx_table.upsert(spark, tx, _batch(spark, [("a", 3)]), ["k"], n_buckets=4,
                    order_col="v", epoch_id=0, app_id="runB-restart")
    assert _content(spark, tx) == {("a", 3)}
    # scoped deletes share the ledger semantics
    tx_table.delete(spark, tx, spark.createDataFrame([("a",)], "k string"),
                    epoch_id=1, app_id="runB-restart")
    assert _content(spark, tx) == set()
    v2 = tx_table.latest_version(tx)
    tx_table.upsert(spark, tx, _batch(spark, [("a", 5)]), ["k"], n_buckets=4,
                    order_col="v", epoch_id=1, app_id="runA")  # different app
    assert _content(spark, tx) == {("a", 5)}
    assert tx_table.latest_version(tx) == v2 + 1


def test_tx_batch_upsert_wins_over_high_stream_epochs(spark, tmp_path):
    """ADVICE r4 hazard (b): stream epoch ids can run far ahead of the
    version count; a later BATCH upsert (no epoch id) must still win
    the per-key LWW merge, i.e. its _epoch exceeds every committed
    row's."""
    tx = str(tmp_path / "tx")
    tx_table.upsert(spark, tx, _batch(spark, [("a", 1), ("b", 2)]), ["k"],
                    n_buckets=4, order_col="v", epoch_id=500, app_id="stream")
    # batch path: eff_epoch must be 501, not version+1 == 1
    tx_table.upsert(spark, tx, _batch(spark, [("a", 10)]), ["k"], n_buckets=4,
                    order_col="v")
    assert _content(spark, tx) == {("a", 10), ("b", 2)}
    df = tx_table.read_table(spark, tx)
    got = {(r.k, r["_epoch"]) for r in df.select("k", "_epoch").collect()}
    assert got == {("a", 501), ("b", 500)}
    # and the CDF for the batch commit identifies its rows via the
    # recorded eff_epoch, not the version number
    v = tx_table.latest_version(tx)
    ch = tx_table.read_changes(spark, tx, v)
    rows = {(r.k, r.v, r._change_type) for r in ch.select("k", "v", "_change_type").collect()}
    assert rows == {("a", 1, "update_preimage"), ("a", 10, "update_postimage")}
    # a second batch keeps climbing
    tx_table.upsert(spark, tx, _batch(spark, [("b", 20)]), ["k"], n_buckets=4,
                    order_col="v")
    got2 = {(r.k, r["_epoch"]) for r in
            tx_table.read_table(spark, tx).select("k", "_epoch").collect()}
    assert got2 == {("a", 501), ("b", 502)}


def test_tx_vacuum_manifest_retention_window(spark, tmp_path):
    """Manifests get the same retention age gate as data files
    (ADVICE r4): inside the window a lagging time-travel reader or CDF
    consumer can still resolve old versions; past the window they are
    dropped down to keep_versions, whose default (2) preserves CDF for
    the latest commit."""
    tx = str(tmp_path / "tx")
    for i, rows in enumerate(EPOCHS):
        tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=4,
                        order_col="v", epoch_id=i)
    # inside the retention window: nothing removed, time travel intact
    tx_table.vacuum(tx, keep_versions=1, retention_seconds=3600.0)
    assert tx_table.list_versions(tx) == [0, 1, 2]
    assert _content(spark, tx, version=0) == {("a", 1), ("b", 2), ("c", 3), ("d", 4)}
    # past the window, default keep_versions=2: CDF for latest survives
    tx_table.vacuum(tx, retention_seconds=0.0)
    assert tx_table.list_versions(tx) == [1, 2]
    ch = tx_table.read_changes(spark, tx, 2)
    assert ch is not None and ch.count() > 0


def test_tx_clone_shallow_pinned_and_isolated(spark, tmp_path):
    """CLONE (r7): a shallow clone of a pinned version reads
    bit-identically, evolves independently in both directions, and —
    because every referenced file is HARD-LINKED, not path-referenced
    — survives the source's vacuum of the cloned version."""
    src = str(tmp_path / "src")
    rows0 = [(f"k{i}", i) for i in range(20)]
    tx_table.upsert(spark, src, _batch(spark, rows0), ["k"], n_buckets=4,
                    order_col="v", epoch_id=0)
    v_pin = tx_table.latest_version(src)
    tx_table.upsert(spark, src, _batch(spark, [("k3", 999), ("new", 1)]),
                    ["k"], n_buckets=4, order_col="v", epoch_id=1)

    dst = str(tmp_path / "clone")
    assert tx_table.clone(src, dst, version=v_pin) == 0
    want = {(r.k, r.v) for r in tx_table.read_table(spark, src, version=v_pin)
            .select("k", "v").collect()}
    got = {(r.k, r.v) for r in tx_table.read_table(spark, dst)
           .select("k", "v").collect()}
    assert got == want == set(rows0)
    # lineage recorded
    man = tx_table.read_manifest(dst, 0)
    assert man["op"] == "clone" and man["source"]["version"] == v_pin

    # independent evolution: writes to the clone don't touch the source
    tx_table.upsert(spark, dst, _batch(spark, [("k0", -1)]), ["k"],
                    n_buckets=4, order_col="v", epoch_id=50)
    assert ("k0", -1) in {
        (r.k, r.v) for r in tx_table.read_table(spark, dst).select("k", "v").collect()
    }
    assert ("k0", 0) in {
        (r.k, r.v)
        for r in tx_table.read_table(spark, src, version=v_pin)
        .select("k", "v").collect()
    }

    # source vacuums the pinned version away — hardlinks keep the
    # clone's bytes alive
    for _ in range(3):  # push v_pin out of the retained tail
        tx_table.upsert(spark, src, _batch(spark, [("churn", 7)]), ["k"],
                        n_buckets=4, order_col="v")
    tx_table.vacuum(src, keep_versions=1, retention_seconds=0.0)
    still = {(r.k, r.v) for r in tx_table.read_table(spark, dst, version=0)
             .select("k", "v").collect()}
    assert still == want

    # occupied destination fails loudly
    import pytest

    with pytest.raises(ValueError, match="already holds a table"):
        tx_table.clone(src, dst)


def test_tx_clone_carries_dv_state_and_ledger(spark, tmp_path):
    """A merge-on-read snapshot (live deletion vectors) clones
    bit-identically in BOTH modes, and the exactly-once ledger travels:
    replaying an already-applied epoch into the clone is a no-op."""
    src = str(tmp_path / "src")
    tx_table.upsert(spark, src, _batch(spark, [(f"k{i}", i) for i in range(12)]),
                    ["k"], n_buckets=2, order_col="v", epoch_id=0)
    tx_table.delete(spark, src,
                    spark.createDataFrame([("k4",), ("k7",)], "k string"),
                    epoch_id=1, mode="dv")
    want = {(r.k, r.v) for r in tx_table.read_table(spark, src)
            .select("k", "v").collect()}
    assert len(want) == 10  # DVs live

    for mode in ("shallow", "deep"):
        dst = str(tmp_path / f"clone_{mode}")
        tx_table.clone(src, dst, mode=mode)
        got = {(r.k, r.v) for r in tx_table.read_table(spark, dst)
               .select("k", "v").collect()}
        assert got == want, mode
        # ledger travels: replaying epoch 0 into the clone changes nothing
        v_before = tx_table.latest_version(dst)
        tx_table.upsert(spark, dst,
                        _batch(spark, [("k0", 777777)]), ["k"], n_buckets=2,
                        order_col="v", epoch_id=0)
        assert tx_table.latest_version(dst) == v_before
        assert {(r.k, r.v) for r in tx_table.read_table(spark, dst)
                .select("k", "v").collect()} == want


def _buckets_of(spark, keys, n_buckets):
    """The tx_table bucket ids these string keys hash into."""
    return {
        r.kb
        for r in spark.createDataFrame([(k,) for k in keys], "k string")
        .select(F.pmod(F.xxhash64("k"), F.lit(n_buckets)).cast("int").alias("kb"))
        .collect()
    }


def _packed_commit(tx, v_old, v_new, touched):
    """Check one commit against the packed layout and return the
    files it wrote. A file is rewritten iff it may hold a touched
    bucket, every other file carries over by path, and the fresh files
    form write groups: files of one group share its buckets, groups
    are disjoint, and together they cover only rewritten buckets."""
    old = tx_table.read_manifest(tx, v_old)["files"]
    new = tx_table.read_manifest(tx, v_new)["files"]
    new_paths = {f["path"] for f in new}
    old_paths = {f["path"] for f in old}
    for f in old:
        assert (f["path"] not in new_paths) == bool(touched & set(tx_table._kbs(f))), f
    fresh = [f for f in new if f["path"] not in old_paths]
    groups = {tuple(f["kbs"]) for f in fresh}
    covered = [kb for g in groups for kb in g]
    assert len(covered) == len(set(covered))  # groups are disjoint
    rewritten = set(touched).union(
        *(tx_table._kbs(f) for f in old if f["path"] not in new_paths)
    )
    assert set(covered) <= rewritten
    assert all(f["size"] == os.path.getsize(os.path.join(tx, "data", f["path"]))
               for f in fresh)
    return fresh


def _last_write_plan_tree(spark) -> str:
    """The final (post-AQE) physical plan tree of the newest SQL
    execution that wrote files, from Spark's own SQL status store
    (kept with the UI disabled)."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in range(execs.size() - 1, -1, -1):
        desc = execs.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in desc:
            tree = desc.split("\n\n")[0]
            return tree.split("== Final Plan ==")[-1].split("== Initial Plan ==")[0]
    raise AssertionError("no file-writing SQL execution recorded")


def _group_jobs(sc, group):
    """(job ids, job descriptions) Spark ran under a job group."""
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    store = sc._jsc.sc().statusStore()
    descs = [store.job(j).description() for j in jobs]
    return jobs, [d.get() for d in descs if d.isDefined()]


def test_tx_upsert_commit_is_one_sized_shuffle(spark, tmp_path, small_files):
    """An upsert writes exactly one file per write group, runs its
    write stage with min(groups, defaultParallelism) tasks, and its
    executed write plan has ONE exchange: the group repartition that
    the last-writer-wins window and the partitioned write share."""
    tx = str(tmp_path / "tx")
    n = 16
    tx_table.upsert(spark, tx, _batch(spark, [(f"key{i}", i) for i in range(200)]),
                    ["k"], n_buckets=n, order_col="v", epoch_id=0)
    assert len(tx_table.read_manifest(tx, 0)["files"]) > 2
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for epoch, keys in enumerate([["key7"], [f"key{i}" for i in range(0, 200, 7)]], 1):
        touched = _buckets_of(spark, keys, n)
        group = f"tx-shape-{tmp_path.name}-{epoch}"
        sc.setJobGroup(group, "tx commit shape")
        try:
            v = tx_table.upsert(spark, tx, _batch(spark, [(k, 1000) for k in keys]),
                                ["k"], n_buckets=n, order_col="v", epoch_id=epoch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        fresh = _packed_commit(tx, v - 1, v, touched)
        groups = {tuple(f["kbs"]) for f in fresh}
        assert len(fresh) == len(groups)  # one file per write group
        # the write is the commit's last stage
        jobs, _ = _group_jobs(sc, group)
        stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
        write = tracker.getStageInfo(max(stages))
        want = min(len(groups), sc.defaultParallelism)
        assert write.numTasks == write.numCompletedTasks == want
        tree = _last_write_plan_tree(spark)
        assert len(re.findall(r"(?<![A-Za-z])Exchange \(", tree)) == 1, tree
    assert len(groups) > 1  # the wide commit packed into several files
    got = dict(_content(spark, tx))
    assert len(got) == 200 and got["key7"] == 1000 and got["key1"] == 1


def test_tx_wide_upsert_writes_one_file_read_without_listing_job(spark, tmp_path):
    """A small upsert that touches most of a 64-bucket table's buckets
    packs them all into ONE file (one bucket per file would have made
    it dozens), and the next commit reads that file without Spark's
    distributed "Listing leaf files" job, which a read of more than
    ``parallelPartitionDiscovery.threshold`` (32) paths runs."""
    tx = str(tmp_path / "tx")
    n = 64
    keys = [f"key{i}" for i in range(300)]
    touched = _buckets_of(spark, keys, n)
    assert len(touched) >= 40
    tx_table.upsert(spark, tx, _batch(spark, [(k, 1) for k in keys]), ["k"],
                    n_buckets=n, order_col="v", epoch_id=0)
    (only,) = tx_table.read_manifest(tx, 0)["files"]
    assert only["kbs"] == sorted(touched)

    sc = spark.sparkContext
    group = f"tx-listing-{tmp_path.name}"
    sc.setJobGroup(group, "tx wide commit")
    try:
        tx_table.upsert(spark, tx, _batch(spark, [(k, 2) for k in keys[::5]]), ["k"],
                        n_buckets=n, order_col="v", epoch_id=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs, descs = _group_jobs(sc, group)
    assert jobs
    assert not [d for d in descs if d.startswith("Listing leaf files")], descs
    assert len(tx_table.read_manifest(tx, 1)["files"]) == 1
    # the production single-group commit is one exchange too
    tree = _last_write_plan_tree(spark)
    assert len(re.findall(r"(?<![A-Za-z])Exchange \(", tree)) == 1, tree
    got = dict(_content(spark, tx))
    assert len(got) == 300 and got["key0"] == 2 and got["key1"] == 1


def test_tx_cow_writers_write_one_file_per_write_group(spark, tmp_path, small_files):
    """delete (cow), delete_where, update_where and merge size their
    write the same way: they rewrite exactly the files that may hold a
    bucket they touch, and write one file per write group, whatever
    the core count."""
    tx = str(tmp_path / "tx")
    n = 16
    tx_table.upsert(spark, tx, _batch(spark, [(f"key{i}", i) for i in range(200)]),
                    ["k"], n_buckets=n, order_col="v", epoch_id=0)
    all_buckets = set(range(n))

    def commit(op, touched):
        v_old = tx_table.latest_version(tx)
        v = op()
        fresh = _packed_commit(tx, v_old, v, touched)
        assert len(fresh) == len({tuple(f["kbs"]) for f in fresh}), v

    dead = ["key3", "key50", "key121"]
    commit(lambda: tx_table.delete(
        spark, tx, spark.createDataFrame([(k,) for k in dead], "k string")
    ), _buckets_of(spark, dead, n))
    commit(lambda: tx_table.delete_where(spark, tx, F.col("v") % 10 == 0), all_buckets)
    commit(lambda: tx_table.update_where(spark, tx, F.col("v") < 20, {"v": F.col("v") + 1}),
           all_buckets)
    src_keys = ["key5", "key77", "key500"]
    commit(lambda: tx_table.merge(
        spark, tx, _batch(spark, [(k, -1) for k in src_keys]),
        when_matched_update={"v": F.col("_src_v")},
    ), _buckets_of(spark, src_keys, n))
    got = dict(_content(spark, tx))
    assert "key3" not in got and "key10" not in got
    assert got["key5"] == -1 and got["key500"] == -1 and got["key1"] == 2


def test_tx_pack_buckets_contiguous_groups_by_size():
    """The write-group rule: ceil(total / target) groups (at least one,
    at most one per bucket), each a contiguous run of bucket ids, with
    any bucket bigger than the target in a group of its own."""
    pack = tx_table._pack_buckets
    assert pack({kb: 10.0 for kb in range(64)}, 1000) == [list(range(64))]
    groups = pack({kb: 100.0 for kb in range(64)}, 1000)
    assert len(groups) == 7  # ceil(6400 / 1000)
    assert [kb for g in groups for kb in g] == list(range(64))
    assert all(100 * len(g) <= 1000 for g in groups)
    assert pack({0: 30.0, 1: 5000.0, 2: 30.0}, 1000) == [[0], [1], [2]]
    assert pack({3: 1e9, 9: 1e9}, 10) == [[3], [9]]  # never more groups than buckets
    assert pack({2: 1.0, 7: 1.0, 40: 1.0}, 10) == [[2, 7, 40]]


def _legacy_files(spark, tx, version, rows, n_buckets):
    """Write ``rows`` ((k, v, _epoch) tuples) in the per-bucket layout
    tables had before files were packed — one directory and one file
    per bucket, ``txn-<version>-<id>/b<kb>/`` — and return its manifest
    entries, which carry a single ``kb`` and no ``kbs`` or ``size``."""
    rel = f"txn-{version:010d}-00000000"
    out = os.path.join(tx, "data", rel)
    df = spark.createDataFrame(rows, "k string, v int, _epoch int").withColumn(
        "kb", F.pmod(F.xxhash64("k"), F.lit(n_buckets)).cast("int")
    )
    df.withColumn("_kb_part", F.col("kb")).write.partitionBy("_kb_part").parquet(out)
    entries = []
    for d in sorted(os.listdir(out)):
        if d.startswith("_kb_part="):
            kb = int(d.split("=", 1)[1])
            os.rename(os.path.join(out, d), os.path.join(out, f"b{kb:05d}"))
            entries += [{"path": f"{rel}/b{kb:05d}/{name}", "kb": kb}
                        for name in sorted(os.listdir(os.path.join(out, f"b{kb:05d}")))
                        if name.endswith(".parquet")]
    return entries, df.schema.json()


def test_tx_per_bucket_manifests_stay_readable_and_writable(spark, tmp_path):
    """A table whose manifests list one file per bucket (entries with
    only ``kb``, as written before files were packed) is read and
    rewritten as it is, with no migration: upsert, delete, merge,
    update_where, read_changes, compact and time travel all match the
    last-writer-wins reference, and the next commit writes packed
    ``kbs`` entries while carrying untouched per-bucket files by path."""
    tx = str(tmp_path / "tx")
    n = 8
    epochs = [
        [(f"key{i}", i) for i in range(40)],
        [("key3", 300), ("key17", 1700), ("new1", 1)],
        [("key5", 500), ("key3", 301), ("new2", 2)],
    ]
    bucket = {
        r.k: r.kb
        for r in _batch(spark, epochs[0] + epochs[1])
        .select("k", F.pmod(F.xxhash64("k"), F.lit(n)).cast("int").alias("kb"))
        .collect()
    }
    state: dict[str, tuple[int, int]] = {}
    for epoch, rows in enumerate(epochs[:2]):
        state.update({k: (v, epoch) for k, v in rows})
        touched = {bucket[k] for k, _ in rows}
        prev = [] if epoch == 0 else tx_table.read_manifest(tx, epoch - 1)["files"]
        files, schema = _legacy_files(
            spark, tx, epoch,
            [(k, v, e) for k, (v, e) in state.items() if bucket[k] in touched], n,
        )
        tx_table._commit(tx, epoch, {
            "version": epoch, "op": "upsert", "epoch": epoch, "eff_epoch": epoch,
            "app_id": None, "epochs": {"_default": list(range(epoch + 1))},
            "max_epoch": epoch, "key_cols": ["k"], "n_buckets": n, "stats_cols": None,
            "schema": schema, "files": [f for f in prev if f["kb"] not in touched] + files,
        })
    v1 = {(k, v) for k, (v, _) in state.items()}
    assert all("kbs" not in f for f in tx_table.read_manifest(tx, 1)["files"])
    assert _content(spark, tx, version=0) == set(epochs[0])
    assert _content(spark, tx, version=1) == v1

    v = tx_table.upsert(spark, tx, _batch(spark, epochs[2]), ["k"], n_buckets=n,
                        order_col="v", epoch_id=2)
    want = _lww(epochs)
    assert _content(spark, tx) == want
    touched = _buckets_of(spark, [k for k, _ in epochs[2]], n)
    fresh = _packed_commit(tx, v - 1, v, touched)
    assert fresh and all("kb" not in f and f["kbs"] for f in fresh)
    carried = [f for f in tx_table.read_manifest(tx, v)["files"] if "kb" in f]
    assert carried and all(f["kb"] not in touched for f in carried)
    changes = {(r.k, r.v, r._change_type)
               for r in tx_table.read_changes(spark, tx, v).select("k", "v", "_change_type")
               .collect()}
    assert changes == {
        ("key5", 5, "update_preimage"), ("key5", 500, "update_postimage"),
        ("key3", 300, "update_preimage"), ("key3", 301, "update_postimage"),
        ("new2", 2, "insert"),
    }

    got = dict(want)
    tx_table.delete(spark, tx, spark.createDataFrame([("key9",), ("key30",)], "k string"))
    del got["key9"], got["key30"]
    assert dict(_content(spark, tx)) == got
    tx_table.merge(spark, tx, _batch(spark, [("key11", -11), ("new3", 3)]),
                   when_matched_update={"v": F.col("_src_v")})
    got.update({"key11": -11, "new3": 3})
    assert dict(_content(spark, tx)) == got
    tx_table.update_where(spark, tx, F.col("v") < 10, {"v": F.col("v") + 1000})
    got = {k: (x + 1000 if x < 10 else x) for k, x in got.items()}
    assert dict(_content(spark, tx)) == got
    v = tx_table.compact(spark, tx)
    assert all("kbs" in f for f in tx_table.read_manifest(tx, v)["files"])
    assert dict(_content(spark, tx)) == got
    assert _content(spark, tx, version=1) == v1  # legacy versions still time-travel
