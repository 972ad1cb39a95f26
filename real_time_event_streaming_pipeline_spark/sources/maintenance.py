"""Table-maintenance operators for file-based sinks.

Streaming appends (streaming/sinks.append_parquet — one directory of
files per micro-batch) accumulate small files; at 100 TB the scan
cost of a table is dominated by file count long before data volume
(driver-side listing, one task per tiny split, per-file footer
reads). Compaction is the standing maintenance job every
file-backed sink needs — the Delta/Iceberg OPTIMIZE analogue,
expressed over plain parquet directories.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession


def table_file_stats(spark: SparkSession, path: str) -> dict:
    """(n_files, total_bytes) for a parquet directory tree — the
    decision input for compact_parquet (driver-side listing only)."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return {"n_files": n, "total_bytes": total}


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
    ttl_col: str | None = None,
    now_epoch: int | None = None,
) -> dict:
    """Rewrite a parquet directory into ~target_bytes files, optionally
    dropping TTL-expired rows. The output is flat: a hive-partitioned
    input comes back as root-level files. The one partitioned upsert
    layout, `streaming/tx_table`, compacts through its own manifest
    commit (`tx_table.compact`), never through this function.

    File count = ceil(total_bytes / target_bytes) on the *compressed*
    size — the right granularity for scan parallelism. Optional
    sort_cols cluster rows inside the rewrite (repartitionByRange +
    sortWithinPartitions) so min/max row-group stats become selective
    — the poor man's Z-order, one dimension at a time.

    ttl_col + now_epoch enable retention: rows whose epoch-seconds
    expiry (functions.ttl_from) is <= now_epoch are dropped during the
    rewrite — the reference's DynamoDB TTL expiry
    (setup-dynamodb.sh:29-32) expressed as a maintenance pass, which is
    exactly how file-backed stores apply TTL (expiry rides the
    compaction write the table needs anyway, no extra I/O).

    The swap keeps a full table on disk at all times (old → ._old,
    staging → live, drop ._old; an interrupted swap is recovered from
    ._old on the next run) — but it is NOT atomic: a concurrent reader
    can catch the instant between the two renames. True atomicity
    needs a metastore/manifest commit (Delta/Iceberg OPTIMIZE); the
    dataflow is identical.
    """
    import shutil

    old = path.rstrip("/") + "._old"
    # crash recovery: a previous run died between the two renames —
    # the live dir is missing but the backup holds the pre-swap table
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    stats = table_file_stats(spark, path)
    n_out = max(1, math.ceil(stats["total_bytes"] / target_bytes))
    df: DataFrame = spark.read.parquet(path)
    expired = 0
    if ttl_col is not None:
        if now_epoch is None:
            raise ValueError("ttl_col requires now_epoch (deterministic retention)")
        from pyspark.sql import functions as F

        expired = df.filter(F.col(ttl_col) <= F.lit(int(now_epoch))).count()
        df = df.filter(F.col(ttl_col) > F.lit(int(now_epoch)))
    staging = path.rstrip("/") + "._compacting"
    if sort_cols:
        out = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(staging)
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    after = table_file_stats(spark, path)
    return {
        "before": stats,
        "after": after,
        "target_files": n_out,
        "expired_rows": expired,
    }


def zorder_value(cols, mins, maxs, bits: int = 16):
    """Morton (z-order) curve value for 2+ numeric columns as a pure
    Column expression: each column is scaled to a `bits`-bit bucket
    with width_bucket over its [min, max] range, then the bucket bits
    are interleaved. Rows close on the curve are close in EVERY
    dimension, so after a range-repartition + sort on this value each
    output file's parquet min/max stats are narrow on all clustered
    columns at once — the multi-dimensional scan-pruning that
    single-column range clustering (`compact_parquet(sort_cols=...)`)
    cannot give. Whole-stage codegen: shifts and ORs, no UDF.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    buckets = []
    for c, lo, hi in zip(cols, mins, maxs):
        # width_bucket returns 1..2^bits; shift to 0-based
        b = F.width_bucket(
            F.col(c).cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit((1 << bits) - 1)
        ) - 1
        buckets.append(b.cast("long"))
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for i, b in enumerate(buckets):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(b, bit).bitwiseAND(F.lit(1)), bit * n + i)
            )
    return z


def zorder_parquet(
    spark: SparkSession,
    path: str,
    cols: list[str],
    target_bytes: int = 128 * 1024 * 1024,
    bits: int = 16,
) -> dict:
    """OPTIMIZE ZORDER BY analogue for plain parquet directories:
    rewrite the table clustered on the Morton curve of `cols`. Column
    ranges come from one min/max aggregate (a metadata-cheap scan);
    the rewrite is repartitionByRange + sortWithinPartitions on the
    z-value, reusing compact_parquet's crash-safe backup swap via the
    same staging protocol. Returns before/after file stats; the
    pruning effect is asserted from parquet footer stats in
    tests/test_scale_guards.py."""
    import shutil

    from pyspark.sql import functions as F

    old = path.rstrip("/") + "._old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    stats = table_file_stats(spark, path)
    n_out = max(1, math.ceil(stats["total_bytes"] / target_bytes))
    df: DataFrame = spark.read.parquet(path)
    rng = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).first()
    z = zorder_value(cols, [rng[f"lo_{c}"] for c in cols], [rng[f"hi_{c}"] for c in cols], bits)
    out = (
        df.withColumn("_z", z)
        .repartitionByRange(n_out, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    staging = path.rstrip("/") + "._compacting"
    out.write.mode("overwrite").parquet(staging)
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    return {"before": stats, "after": table_file_stats(spark, path), "files": n_out}


# Reserved lineage id for compacted rows: replays target epochs >= 0
# and the ann_index base build uses -1, so -2 can never collide.
_COMPACTED_EPOCH = -2


def compact_epochs(
    spark: SparkSession,
    store_dir: str,
    upto_epoch: int,
    partition_cols: list[str] | None = None,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Consolidate the epoch=N subtrees of an epoch-partitioned store
    (streaming/dedup_index.py bands/hashes, streaming/ann_index.py
    cells, streaming/semdedup_index.py cells, streaming/
    corpus_ingest.py chunks) for every N <= upto_epoch into the ONE
    reserved ``epoch=-2`` subtree, leaving newer epochs untouched.

    Epoch-per-micro-batch layouts are what make streaming appends
    replay-idempotent, but they accumulate one directory per trigger —
    at 100 TB the scan is file-count-bound long before volume-bound,
    so old epochs (whose per-epoch lineage no longer matters) get
    rewritten into ~target_bytes files while the recent epochs keep
    their replayability. Compacted rows adopt epoch -2 as their
    lineage value: granularity is the explicit trade, and the reserved
    NEGATIVE id means a foreachBatch replay (which only ever targets
    epochs >= 0) can never overwrite the consolidated subtree — naming
    it after a real merged epoch would let a replay of that epoch
    silently destroy every older epoch's rows. (-1 is taken: it is the
    ann_index base-build epoch, which merges in like any other.)

    Crash safety (same idiom as compact_parquet's backup swap): the
    consolidated subtree is staged beside the store; source epochs are
    moved into a ._old_epochs backup before the staging rename; an
    interrupted run is healed on the next invocation by restoring the
    backup — including deleting a half-committed epoch=-2 target that
    the backup does not cover (first-ever compaction). The
    multi-directory swap is not atomic for concurrent readers — the
    same documented caveat as the bucketed upsert sink; a metastore
    commit (Delta/Iceberg) is the atomic variant.
    """
    import re
    import shutil

    backup = os.path.join(store_dir, "._old_epochs")
    staging = os.path.join(store_dir, "._epoch_compacting")
    target_name = f"epoch={_COMPACTED_EPOCH}"
    # heal an interrupted previous run: a backup means the swap never
    # finished. If the target landed but its previous version is NOT
    # in the backup (first compaction), it is half-committed output
    # whose rows all live in the backup — drop it, then restore.
    if os.path.isdir(backup):
        tgt = os.path.join(store_dir, target_name)
        if os.path.isdir(tgt) and not os.path.isdir(os.path.join(backup, target_name)):
            shutil.rmtree(tgt)
        for d in os.listdir(backup):
            dst = os.path.join(store_dir, d)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            os.rename(os.path.join(backup, d), dst)
        os.rmdir(backup)
    if os.path.isdir(staging):
        shutil.rmtree(staging)

    epoch_dirs = {
        int(m.group(1)): os.path.join(store_dir, d)
        for d in os.listdir(store_dir)
        if (m := re.fullmatch(r"epoch=(-?\d+)", d))
    }
    merge = {n: p for n, p in epoch_dirs.items() if n <= upto_epoch}
    before = table_file_stats(spark, store_dir)
    if len(merge) <= 1:
        return {"before": before, "after": before, "epochs_merged": 0}

    # basePath anchors partition discovery at the store root (epoch=N
    # dirs holding further partition levels like cell=K would otherwise
    # conflict across the multiple read roots); the discovered epoch
    # column is lineage only and must not be baked into the data files
    df: DataFrame = spark.read.option("basePath", store_dir).parquet(*merge.values())
    if "epoch" in df.columns:
        df = df.drop("epoch")
    total = sum(table_file_stats(spark, p)["total_bytes"] for p in merge.values())
    n_out = max(1, math.ceil(total / target_bytes))
    if partition_cols:
        # one rewrite task per value-combination keeps files per
        # partition dir at ~total/values; repartition on the partition
        # columns so each output dir is written by few tasks
        out = df.repartition(n_out, *partition_cols)
        out.write.mode("overwrite").partitionBy(*partition_cols).parquet(staging)
    else:
        df.repartition(n_out).write.mode("overwrite").parquet(staging)

    os.makedirs(backup)
    for n, p in merge.items():
        os.rename(p, os.path.join(backup, os.path.basename(p)))
    os.rename(staging, os.path.join(store_dir, target_name))
    shutil.rmtree(backup)
    return {
        "before": before,
        "after": table_file_stats(spark, store_dir),
        "epochs_merged": len(merge),
    }
