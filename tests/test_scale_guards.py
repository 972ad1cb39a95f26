"""Guards for the 100 TB scale contracts: bounded candidate buckets,
input-parallelism-gated repartition, TTL retention, crash-safe sink
swap, and AQE skew-join splitting actually engaging.

These tests plant the degenerate data (boilerplate corpora, skewed
keys) that the synthetic tables don't contain, so the caps and
fallbacks are exercised, not just documented."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Observation

from real_time_event_streaming_pipeline_spark.operators import dedup as D


def _boilerplate_corpus(spark, n_docs: int = 400):
    """n_docs near-identical docs (shared 40-token boilerplate + one
    unique token): every doc lands in the same LSH band buckets and
    the same simhash blocks — the degenerate hot-bucket case."""
    base = " ".join(f"tok{i}" for i in range(40))
    rows = [(i, f"{base} unique{i}") for i in range(n_docs)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_bucket_cap_bounds_pairs(spark):
    docs = _boilerplate_corpus(spark, 400)
    obs = Observation("minhash_buckets")
    out = D.minhash_lsh_pairs(docs, max_bucket=50, observation=obs)
    # collect, not count: count() prunes the CollectMetrics node
    n_pairs = len(out.collect())
    m = obs.get
    assert m["dropped_buckets"] > 0, "the planted hot buckets must be seen and dropped"
    assert m["max_bucket_seen"] >= 300
    # every surviving bucket emits <= cap²/2 pairs
    assert n_pairs <= 8 * 50 * 50 / 2


def test_simhash_bucket_cap_bounds_pairs(spark):
    docs = _boilerplate_corpus(spark, 400)
    obs = Observation("simhash_buckets")
    out = D.simhash_neardup_pairs(docs, max_bucket=50, observation=obs)
    n_pairs = len(out.collect())
    m = obs.get
    assert m["dropped_buckets"] > 0
    assert m["max_bucket_seen"] == 400
    # the uncapped mega-bucket alone would emit 400·399/2 ≈ 80k pairs;
    # capped output must stay an order of magnitude below that
    assert n_pairs < 400 * 399 / 2 / 10


def test_bucket_presize_routes_agree(spark):
    """r12 (r11 verdict #1): the small-corpus collect-then-filter
    route (presize=False) and the scale route's map-side sizing pass
    (presize=True) must emit the IDENTICAL pair set AND identical
    saturation counters — on the planted hot-bucket corpus, where
    buckets actually blow the cap, not just on clean data."""
    docs = _boilerplate_corpus(spark, 400)
    results, counters = [], []
    for presize in (True, False):
        for gen, name in (
            (D.minhash_lsh_pairs, "mh"),
            (D.simhash_neardup_pairs, "sh"),
        ):
            obs = Observation(f"{name}_{presize}")
            out = gen(docs, max_bucket=50, observation=obs, presize=presize)
            results.append((name, {tuple(map(str, r)) for r in out.collect()}))
            counters.append((name, dict(obs.get)))
    assert results[0] == results[2] and results[1] == results[3]
    assert counters[0] == counters[2] and counters[1] == counters[3]
    assert counters[0][1]["dropped_buckets"] > 0  # the cap really bit


def test_bucket_cap_keeps_normal_recall(spark, sf_small):
    """On the real corpus (max observed bucket ≈ 240) the default cap
    must not drop anything — capped output == uncapped output."""
    from real_time_event_streaming_pipeline_spark.catalog import load

    docs = load(spark, sf_small, "documents")
    capped = {tuple(r) for r in D.minhash_lsh_pairs(docs).collect()}
    uncapped = {
        tuple(r) for r in D.minhash_lsh_pairs(docs, max_bucket=1 << 30).collect()
    }
    assert capped == uncapped


def test_contamination_hot_shingle_capped(spark, tmp_path):
    """A 5-gram planted in >cap train docs must not explode the
    contamination join: the stop-shingle guard drops it while normal
    shared shingles still report."""
    from real_time_event_streaming_pipeline_spark.plans.curation import (
        _CONTAM_MAX_DF,
        q_contamination,
    )
    from real_time_event_streaming_pipeline_spark.plans.relational import split_bucket

    hot = "alpha beta gamma delta epsilon"
    rare = "zeta eta theta iota kappa"
    rows = []
    # ids 0..9999: ~80% train / ~10% test under the deterministic split.
    # Every doc carries the hot shingle; only doc 17 and one test doc
    # share the rare one.
    for i in range(2000):
        text = hot if i % 7 else hot + " filler" + str(i)
        rows.append((i, "en", "web", text))
    rows.append((100001, "en", "web", rare))  # membership decided by hash
    rows.append((17, "en", "web", rare + " " + hot))
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    out_dir = str(tmp_path / "documents.parquet")
    df.write.parquet(out_dir)

    res = q_contamination(spark, str(tmp_path)).collect()
    # the hot shingle's train df is way over the cap → it contributes
    # nothing; any hits must come from sub-cap shingles only
    sh_counts = (
        D.doc_shingles(df, k=5)
        .withColumn("b", split_bucket(F.col("doc_id"), 100))
        .filter(F.col("b") < 80)
        .groupBy("shingle")
        .count()
    )
    assert sh_counts.agg(F.max("count")).first()[0] > _CONTAM_MAX_DF
    for r in res:
        assert r.n_train_docs <= _CONTAM_MAX_DF


def test_spread_skips_repartition_when_parallel(spark, sf_small):
    """doc_shingles must not inject an Exchange when the input is
    already at least as parallel as shuffle.partitions."""
    from real_time_event_streaming_pipeline_spark.catalog import load

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = load(spark, sf_small, "documents").repartition(n_part)
    # materialize the pre-partitioned input so its partitioning is a fact
    docs = docs.localCheckpoint()
    plan = (
        D.doc_shingles(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    # under-parallel input still gets spread
    single = load(spark, sf_small, "documents").coalesce(1).localCheckpoint()
    plan1 = D.doc_shingles(single)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan1


def test_compact_parquet_ttl_retention(spark, tmp_path):
    """TTL expiry rides the compaction rewrite (the DynamoDB-TTL
    analogue): expired rows vanish, survivors are intact."""
    from real_time_event_streaming_pipeline_spark.sources.maintenance import (
        compact_parquet,
    )

    p = str(tmp_path / "ttl_table")
    rows = [(i, 1000 + i) for i in range(100)]  # ttl = 1000..1099
    spark.createDataFrame(rows, "k long, ttl long").write.parquet(p)
    report = compact_parquet(spark, p, ttl_col="ttl", now_epoch=1049)
    assert report["expired_rows"] == 50
    kept = sorted(r.k for r in spark.read.parquet(p).collect())
    assert kept == list(range(50, 100))


def test_upsert_sink_recovers_interrupted_swap(spark, tmp_path):
    """A crash between the two swap renames leaves only the .bak dir;
    the next epoch must recover it instead of dropping the table."""
    from real_time_event_streaming_pipeline_spark.streaming.sinks import upsert_parquet

    out = str(tmp_path / "state")
    sink = upsert_parquet(out, ["k"])
    sink(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), 0)
    # simulate the crash window: live dir renamed aside, new dir never landed
    os.rename(out, out + ".bak")
    sink(spark.createDataFrame([(2, "c")], "k long, v string"), 1)
    got = {r.k: r.v for r in spark.read.parquet(out).select("k", "v").collect()}
    assert got == {1: "a", 2: "c"}
    assert not os.path.exists(out + ".bak")


def test_aqe_splits_planted_skew_join(spark, tmp_path):
    """The relational module claims AQE handles fact-fact skew; prove
    the mechanism engages: one key holding ~all rows of the left fact
    is split into multiple tasks by skew-join handling."""
    left = spark.range(0, 200_000).select(
        F.when(F.col("id") % 100 < 99, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.concat(F.lit("payload-padding-"), F.col("id").cast("string")).alias("pad"),
    )
    right = spark.range(0, 2_000).select(
        F.col("id").alias("k"), F.col("id").alias("rv")
    )
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = left.join(right, "k")
        # collect (not write): a file write runs its own query
        # execution, leaving this DataFrame's AQE plan unexecuted
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zorder_clusters_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER analogue: after the Morton-curve rewrite, every
    output file's parquet min/max span is narrow on BOTH clustered
    columns (single-dim sort leaves the second column's span global —
    no pruning for queries filtering on it)."""
    import pyarrow.parquet as pq
    import pathlib

    from real_time_event_streaming_pipeline_spark.sources.maintenance import (
        zorder_parquet,
    )

    p = str(tmp_path / "zt")
    df = spark.range(200_000).select(
        (F.col("id") % 1000).alias("x"),
        ((F.col("id") * 7919) % 1000).alias("y"),
        F.col("id").alias("payload"),
    )
    df.coalesce(2).write.parquet(p)
    report = zorder_parquet(spark, p, ["x", "y"], target_bytes=100_000)
    assert report["after"]["n_files"] >= 4, report

    def spans(col):
        out = []
        for f in pathlib.Path(p).glob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            idx = md.schema.names.index(col)
            los, his = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                los.append(st.min)
                his.append(st.max)
            out.append((max(his) - min(los)) / 999.0)
        return out

    x_spans, y_spans = spans("x"), spans("y")
    assert sum(x_spans) / len(x_spans) < 0.6, x_spans
    assert sum(y_spans) / len(y_spans) < 0.6, y_spans
    # contents unchanged by the rewrite
    assert spark.read.parquet(p).count() == 200_000


def test_tfidf_broadcast_routes_agree(spark, tmp_path):
    """r12 verdict #6 / ADVICE: the tfidf df-broadcast hint is now a
    footer-resolved route, and BOTH routes (hinted broadcast vs the
    AQE-chosen join) must emit bitwise-identical rows on a planted
    wide-vocabulary corpus — the regime where the route matters."""
    from real_time_event_streaming_pipeline_spark.plans.curation import (
        estimated_vocab,
        q_tfidf,
        resolved_tfidf_broadcast,
    )

    # open vocabulary: every doc contributes mostly-unique hash tokens
    rows = [
        (i, "en", " ".join([f"t{i}x{j}" for j in range(30)] + ["shared common"]))
        for i in range(300)
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).coalesce(1).write.parquet(os.path.join(sf_dir, "documents.parquet"))

    got = [
        sorted(map(tuple, q_tfidf(spark, sf_dir, df_broadcast=b).collect()))
        for b in (True, False)
    ]
    assert got[0] == got[1] and len(got[0]) > 0

    # the resolver flips exactly at the estimated-vocab bound; both
    # sides of the flip resolve from footers only (no Spark job)
    v = estimated_vocab(sf_dir)
    assert v > 0
    assert resolved_tfidf_broadcast(sf_dir, max_vocab=v) is True
    # max_vocab is part of the memo key (r13 review): a different
    # bound on the same corpus must re-resolve, not read a stale route
    assert resolved_tfidf_broadcast(sf_dir, max_vocab=v - 1) is False
    assert resolved_tfidf_broadcast(sf_dir, max_vocab=v) is True
    from real_time_event_streaming_pipeline_spark.plans.curation import (
        _TFIDF_BROADCAST_CACHE,
    )

    _TFIDF_BROADCAST_CACHE.clear()


def test_load_memo_is_session_correct(spark, sf_small):
    """r13: catalog.load memoizes the lazy parquet-scan DataFrame per
    (applicationId, realpath, table). The memo must never hand a
    DataFrame bound to ANOTHER session over the same context — a
    newSession() caller registering temp views would silently write
    them into the wrong session's catalog (review finding). A
    same-session hit must be the identical object (the memo working);
    a different-session call must rebuild for that session."""
    from real_time_event_streaming_pipeline_spark.catalog import load

    a1 = load(spark, sf_small, "nation")
    a2 = load(spark, sf_small, "nation")
    assert a1 is a2  # memo hit within one session

    s2 = spark.newSession()
    b = load(s2, sf_small, "nation")
    assert b.sparkSession is s2  # rebuilt for the caller's session
    # and the view path actually works in the new session
    b.createOrReplaceTempView("_memo_probe_nation")
    assert s2.sql("SELECT count(*) c FROM _memo_probe_nation").first()["c"] == b.count()
    s2.catalog.dropTempView("_memo_probe_nation")


def test_load_memo_detects_inplace_rewrite(spark, tmp_path):
    """r14 (r13 ADVICE): the load memo keys on a freshness token
    (mtime_ns + size of the table path), so a harness that rewrites a
    table in place under an already-loaded path gets a fresh scan —
    fail-safe by mechanism, not by callers knowing to call
    clear_load_memo()."""
    import shutil
    import time as _time

    from real_time_event_streaming_pipeline_spark.catalog import load

    sf = str(tmp_path / "sf_rw")
    os.makedirs(sf)
    from conftest import SF_SMALL

    shutil.copy(os.path.join(SF_SMALL, "nation.parquet"), os.path.join(sf, "nation.parquet"))
    n1 = load(spark, sf, "nation").count()

    # rewrite IN PLACE with fewer rows (mtime and size both change)
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf, "nation.parquet"))
    _time.sleep(0.01)  # ensure a distinct mtime_ns even on coarse clocks
    pq.write_table(tbl.slice(0, max(1, tbl.num_rows // 2)), os.path.join(sf, "nation.parquet"))

    n2 = load(spark, sf, "nation").count()
    assert n1 == tbl.num_rows
    assert n2 == max(1, tbl.num_rows // 2), (
        "memo served a stale pinned file listing after an in-place rewrite"
    )


def test_load_memo_detects_inplace_rewrite_of_directory_table(spark, tmp_path):
    """A directory table whose part file is overwritten in place under
    the same name keeps the directory's own mtime and size, so the
    freshness token must fold in the entries' stats too — otherwise
    the memo keeps serving the first load's file listing, whose stale
    file length hides the rewritten file's later row groups."""
    import time as _time

    import pyarrow.parquet as pq

    from conftest import SF_SMALL
    from real_time_event_streaming_pipeline_spark.catalog import load

    tbl = pq.read_table(os.path.join(SF_SMALL, "nation.parquet"))
    table_dir = tmp_path / "sf_dir" / "nation.parquet"
    os.makedirs(table_dir)
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), str(table_dir / "part-0.parquet"))
    pq.write_table(tbl.slice(half, 3), str(table_dir / "part-1.parquet"))
    sf = str(table_dir.parent)

    def keys():
        return sorted(r.n_nationkey for r in load(spark, sf, "nation").collect())

    def col(t):
        return t.column("n_nationkey").to_pylist()

    assert keys() == sorted(col(tbl.slice(0, half)) + col(tbl.slice(half, 3)))

    _time.sleep(0.01)  # ensure a distinct mtime_ns even on coarse clocks
    # same name, every row, many small row groups
    pq.write_table(tbl, str(table_dir / "part-1.parquet"), row_group_size=2)
    assert keys() == sorted(col(tbl.slice(0, half)) + col(tbl)), (
        "memo served a stale file listing after a part file was rewritten in place"
    )
