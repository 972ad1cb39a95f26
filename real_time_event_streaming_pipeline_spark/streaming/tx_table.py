"""Manifest-committed transactional table: ATOMIC multi-bucket upsert.

The engine's one upsert sink (`upsert_tx`, which every `PipelineConfig`
table commits through). Every commit is one atomic filesystem
operation, whatever the number of buckets it rewrites, so a crash
mid-write can never expose a half-upserted table.

Protocol (the public Delta Lake / Iceberg design — M. Armbrust et al.,
"Delta Lake: High-Performance ACID Table Storage over Cloud Object
Stores", VLDB 2020; data files are immutable, the log is the table):

- ``<table>/data/txn-<version>-<uuid>/b<first kb>-<last kb>/*.parquet``
  — immutable data files, one directory per transaction attempt, one
  subdirectory per write group: a contiguous run of key buckets packed
  into one file of at most about ``spark.sql.files.maxPartitionBytes``
  (Delta's optimized-write sizing; a bucket bigger than that gets its
  own group). A writer NEVER mutates an existing file. Tables written
  when every file held one bucket (``b<kb>/``) read and rewrite as
  they are.
- ``<table>/_log/v<version>.json`` — the manifest: the complete list
  of live data files (with the bucket ids each file may hold, ``kbs``,
  and its ``size``) plus the set of stream epochs already folded in.
  The table IS whatever the highest manifest says; data files not
  referenced by it are invisible.
- Commit = put-if-absent of ``v<N+1>.json``: the manifest is written
  to a temp name and hard-linked to its final name — ``os.link``
  fails with EEXIST if any other writer got there first, which is
  exactly Delta's "put if absent" primitive. On conflict the loser
  re-reads the new snapshot and retries its whole transaction
  (optimistic concurrency); its orphaned data directory is swept by
  ``vacuum``.

Guarantees this buys over the reference's sink (DynamoDB putItem is
atomic per item only — consumer/.../SparkDynamoDBConsumer.java:264 —
so a crashed micro-batch leaves a PARTIALLY applied epoch visible):

- **Snapshot isolation**: readers resolve the latest manifest once and
  read only files it lists; a concurrent commit flips them from one
  complete snapshot to the next, never an in-between state.
- **All-or-nothing epochs**: a crash between data-file write and
  manifest link leaves only unreferenced files — the table still
  reads as the previous snapshot, bit for bit.
- **Exactly-once epochs over at-least-once foreachBatch**: the
  manifest records committed epoch ids; a replayed epoch whose id is
  already present is a no-op, so retries after ANY crash point
  converge to one application of the batch.
- **Time travel**: every manifest is retained until ``vacuum``;
  ``read_table(version=K)`` reconstructs the table as of commit K.
- **Schema evolution**: the manifest owns the table schema; an
  additive change (``merge_schema=True``) updates it in the same
  atomic commit, and pre-evolution files read back under the new
  schema with NULLs for the added columns — no file rewrite, no
  mergeSchema footer sweep.
- **Data skipping**: with ``stats_cols`` set, each file entry carries
  min/max for those columns (computed by one agg over just the
  epoch's new files) and ``read_table(between=...)`` drops files
  whose ranges provably can't match — the Delta/Iceberg file-stats
  pattern, on top of the bucket pruning the key hash already gives.

Scale posture: the file, not the bucket, is the unit a commit reads
and writes. An upsert epoch rewrites, whole, only the files that may
hold a bucket its keys hash into — cost O(rewritten files), and since
a file holds at most about the target size, the write amplification
of touching one key is bounded by that size — and writes land in a
FRESH directory while old files are read, so no localCheckpoint
materialization barrier is needed. The manifest lists file paths, not
file contents: at 100 TB with thousands of buckets it stays a few MB
of JSON, and the single put-if-absent commit is the same O(1)
metadata operation Delta runs on S3. Bucket pruning happens at the
manifest (driver) level — a point lookup reads only the files that
may hold its bucket. Readers never list a directory: Spark gets the
manifest's explicit file paths and only stats each one — on the
driver up to ``spark.sql.sources.parallelPartitionDiscovery.threshold``
(32) paths, in a distributed listing job beyond it, which a small
table packed into a few files never reaches. A commit's write is one
shuffle, one partition per write group (``_by_group``).
"""

from __future__ import annotations

import json
import math
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

_LOG = "_log"
_DATA = "data"


class CommitConflict(RuntimeError):
    """Another writer committed this version first; retry on a fresh
    snapshot."""


_DEFAULT_APP = "_default"


def _ledger(manifest: dict) -> dict[str, list[int]]:
    """The exactly-once epoch ledger, scoped per writer app id —
    Delta's (txnAppId, txnVersion) idempotence pattern. Pre-r5
    manifests recorded a bare list; normalize it to the default app
    scope so old tables keep their replay protection."""
    eps = manifest.get("epochs", {})
    if isinstance(eps, list):
        return {_DEFAULT_APP: list(eps)}
    return {k: list(v) for k, v in eps.items()}


def _seen_epoch(manifest: dict, app_id: str | None, epoch_id) -> bool:
    if epoch_id is None:
        return False
    return int(epoch_id) in _ledger(manifest).get(app_id or _DEFAULT_APP, [])


def _record_epoch(manifest: dict, app_id: str | None, epoch_id) -> dict:
    led = _ledger(manifest)
    if epoch_id is not None:
        app = app_id or _DEFAULT_APP
        led[app] = sorted(set(led.get(app, [])) | {int(epoch_id)})
    return led


def _next_epoch(manifest: dict) -> int:
    """The LWW lineage value for a batch (no-epoch-id) upsert: one
    past the largest _epoch any committed row can carry, so a batch
    merge never silently loses the last-writer-wins dedup to OLDER
    data just because stream epoch ids ran ahead of the version count
    (ADVICE r4). max_epoch is recorded on every upsert commit;
    pre-r5 manifests fall back to max(version, ledger epochs)."""
    if "max_epoch" in manifest:
        return int(manifest["max_epoch"]) + 1
    recorded = [e for eps in _ledger(manifest).values() for e in eps]
    return max([int(manifest.get("version", -1))] + recorded) + 1


# ---------------------------------------------------------------- log


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _LOG)


def _data_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _DATA)


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_dir(table_dir), f"v{version:010d}.json")


def list_versions(table_dir: str) -> list[int]:
    log = _log_dir(table_dir)
    if not os.path.isdir(log):
        return []
    return sorted(
        int(n[1:-5]) for n in os.listdir(log) if n.startswith("v") and n.endswith(".json")
    )


def latest_version(table_dir: str) -> int | None:
    vs = list_versions(table_dir)
    return vs[-1] if vs else None


def read_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as fh:
        return json.load(fh)


def _commit(table_dir: str, version: int, manifest: dict) -> None:
    """Atomic put-if-absent of the version file. The link either fully
    publishes the manifest or fails; there is no partial state. The
    wall-clock commit time is stamped here (committed_at) — the basis
    for TIMESTAMP AS OF time travel; versions, not timestamps, remain
    the correctness-bearing order."""
    import time

    os.makedirs(_log_dir(table_dir), exist_ok=True)
    final = _manifest_path(table_dir, version)
    tmp = final + f".{uuid.uuid4().hex[:8]}.tmp"
    manifest = dict(manifest, committed_at=time.time())
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, final)  # EEXIST iff a concurrent writer won
    except FileExistsError as exc:
        raise CommitConflict(f"version {version} already committed") from exc
    finally:
        os.remove(tmp)


# -------------------------------------------------------------- read


def snapshot(table_dir: str, version: int | None = None) -> tuple[int, dict] | None:
    """(version, manifest) for the requested or latest commit; None
    before the first commit."""
    if version is None:
        version = latest_version(table_dir)
        if version is None:
            return None
    return version, read_manifest(table_dir, version)


def version_as_of(table_dir: str, timestamp: float) -> int | None:
    """TIMESTAMP AS OF resolution: the newest version committed at or
    before ``timestamp`` (epoch seconds) — Delta's timestamp time
    travel. None if the table's first retained commit is later.
    Commit times are wall clock and only as monotone as the writers'
    clocks; version numbers stay the authoritative order."""
    best = None
    for v in list_versions(table_dir):
        at = read_manifest(table_dir, v).get("committed_at")
        if at is not None and at <= timestamp:
            best = v
    return best


def read_table(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    buckets: list[int] | None = None,
    between: dict | None = None,
    timestamp: float | None = None,
) -> DataFrame | None:
    """The table as of a commit (default: latest), as a DataFrame over
    exactly the manifest's files — snapshot-isolated against
    concurrent commits. ``buckets`` prunes to the listed key buckets:
    only the files that may hold one of them are scanned (manifest
    level), and an in-plan ``kb IN (...)`` filter drops the other
    buckets those files share, so exactly those buckets' rows come
    back. ``between`` ({col: (lo, hi)}) applies min/max
    data skipping over the manifest's file stats; the returned frame
    is a SUPERSET of the matching rows (whole files are skipped, not
    rows), so callers still apply their own .filter. ``timestamp``
    (epoch seconds) resolves TIMESTAMP AS OF instead of a version —
    mutually exclusive with ``version``."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version or timestamp, not both")
        version = version_as_of(table_dir, timestamp)
        if version is None:
            return None  # the first retained commit is later
    snap = snapshot(table_dir, version)
    if snap is None:
        return None
    _, manifest = snap
    files = manifest["files"]
    if between:
        files = prune_files({"files": files}, between)
    if buckets is not None:
        files = _split_files(files, buckets)[1]
    if not files:
        return None
    df = _read_entries(spark, table_dir, files, manifest.get("schema"))
    return df if buckets is None else df.filter(F.col("kb").isin(sorted(set(buckets))))


def _rel_path(col) -> "F.Column":
    """The data-dir-relative path of a scanned file, from the
    _metadata.file_path URI — the join key between scan rows and
    manifest/DV entries. Splits on the table's own '/data/' segment
    (the txn layout guarantees exactly one for these paths)."""
    return F.element_at(F.split(col, "/data/"), -1)


def _read_entries_with_pos(
    spark: SparkSession, table_dir: str, entries: list[dict], schema_json
):
    """Live rows of these manifest entries WITH their (_file, _pos)
    row-identity columns — the one candidate scan the DV ops share
    (r14): the matcher count, the sidecar write, and (for UPDATE/
    MERGE) the rewritten-row append all previously re-derived this
    frame, re-scanning the candidate files once per consumer. Old DVs
    are anti-joined here, so new positions are disjoint from old by
    construction."""
    if not entries:
        return None
    paths = [os.path.join(_data_dir(table_dir), f["path"]) for f in entries]
    reader = spark.read
    if schema_json is not None:
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
    df = reader.parquet(*paths)
    raw = df.select(
        "*",
        _rel_path(F.col("_metadata.file_path")).alias("_file"),
        F.col("_metadata.row_index").alias("_pos"),
    )
    dv_dirs = sorted({f["dv"] for f in entries if f.get("dv")})
    if not dv_dirs:
        return raw
    dv_files = {f["path"] for f in entries if f.get("dv")}
    dv = (
        spark.read.parquet(*[os.path.join(_data_dir(table_dir), d) for d in dv_dirs])
        # a file's pointer names ONE sidecar; rows for other files in a
        # shared sidecar are older subsets (unioned forward), rows for
        # rewritten paths can never match a fresh txn path
        .filter(F.col("_file").isin(sorted(dv_files)))
        .select("_file", "_pos")
    )
    return raw.join(dv, ["_file", "_pos"], "left_anti")


def _read_entries(spark: SparkSession, table_dir: str, entries: list[dict], schema_json):
    """DataFrame over exactly these manifest entries. When the
    manifest carries a schema it OWNS the table schema (Delta-style):
    files written before an additive evolution are missing the new
    columns, and reading them under the manifest schema surfaces
    those as NULL — no mergeSchema footer sweep needed.

    Entries carrying a deletion vector (merge-on-read deletes) get it
    applied here: an anti-join on (file, row position) against the
    referenced DV sidecars — the Delta/Iceberg v2 positional-delete
    read path. Files without a DV stream through untouched; cost is
    O(DV'd files' rows), and compaction folds DVs away entirely."""
    if not entries:
        return None
    if not any(f.get("dv") for f in entries):
        # fast path: no DVs anywhere — plain scan, no _metadata
        # row-identity materialization
        paths = [os.path.join(_data_dir(table_dir), f["path"]) for f in entries]
        reader = spark.read
        if schema_json is not None:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        return reader.parquet(*paths)
    return _read_entries_with_pos(spark, table_dir, entries, schema_json).drop(
        "_file", "_pos"
    )


def read_changes(spark: SparkSession, table_dir: str, version: int) -> DataFrame | None:
    """The change rows commit ``version`` introduced — the Delta CDF
    contract, reconstructed from the manifest diff: rows are tagged
    ``_change_type`` in {insert, update_preimage, update_postimage,
    delete}. Only files that entered or left the manifest at this
    version are read (both still on disk until vacuum passes
    ``keep_versions`` over them), so the cost is O(rewritten files),
    and carried-over winner rows rewritten verbatim inside a rewritten
    file are correctly excluded — a row is a change only if its KEY
    was written or removed at this version. Compactions change no
    rows and return None."""
    m_v = read_manifest(table_dir, version)
    key_cols = m_v["key_cols"]
    if m_v["op"] == "compact":
        return None
    prev_files: list[dict] = []
    dv_changed: list[tuple[dict, dict]] = []
    if version > 0:
        try:
            m_prev = read_manifest(table_dir, version - 1)
        except FileNotFoundError:
            raise ValueError(
                f"manifest v{version - 1} was vacuumed; the change feed for "
                f"v{version} needs it — vacuum with keep_versions >= 2 to "
                "retain CDF for the latest commit"
            ) from None
        prev_map = {f["path"]: f for f in m_prev["files"]}
        cur_paths = {f["path"] for f in m_v["files"]}
        new_entries = [f for f in m_v["files"] if f["path"] not in prev_map]
        prev_files = [f for f in m_prev["files"] if f["path"] not in cur_paths]
        # merge-on-read deletes change no file set — the file's DV
        # pointer moves instead; the newly-dead positions ARE the
        # delete rows (cur DV minus prev DV)
        dv_changed = [
            (prev_map[f["path"]], f)
            for f in m_v["files"]
            if f["path"] in prev_map
            and prev_map[f["path"]].get("dv") != f.get("dv")
        ]
    else:
        new_entries = m_v["files"]
    cur = _read_entries(spark, table_dir, new_entries, m_v.get("schema"))
    prev = _read_entries(spark, table_dir, prev_files, m_v.get("schema"))
    if m_v["op"] == "update_where":
        # UPDATE: keys are unchanged, so the diff is TUPLE-level —
        # carried-verbatim rows cancel in exceptAll, what remains is
        # exactly the changed rows. Removed side = rows in files that
        # left the manifest (cow) plus newly-DV-dead rows (dv mode);
        # added side = rows in files that entered.
        removed = prev
        if dv_changed:
            dvr = _dv_delta_rows(spark, table_dir, dv_changed, m_v.get("schema"))
            removed = dvr if removed is None else removed.unionByName(dvr)
        out = []
        if removed is not None and cur is not None:
            out.append(
                removed.exceptAll(cur).withColumn("_change_type", F.lit("update_preimage"))
            )
            out.append(
                cur.exceptAll(removed).withColumn("_change_type", F.lit("update_postimage"))
            )
        elif removed is not None:
            out.append(removed.withColumn("_change_type", F.lit("update_preimage")))
        elif cur is not None:
            out.append(cur.withColumn("_change_type", F.lit("update_postimage")))
        if not out:
            return None
        res = out[0]
        for df in out[1:]:
            res = res.unionByName(df)
        return res
    if m_v["op"] in ("upsert", "merge", "restore") and dv_changed:
        # a dv-mode merge kills old row versions via DV pointers
        # instead of dropping files: fold the newly-dead rows into the
        # prev side and the key-based classification below handles
        # update images and matched deletes uniformly. A restore can
        # also REVIVE rows (its target's DV is a subset of the current
        # one): prev-DV-minus-cur-DV positions re-enter on the post side
        dvr = _dv_delta_rows(spark, table_dir, dv_changed, m_v.get("schema"))
        prev = dvr if prev is None else prev.unionByName(dvr)
        if m_v["op"] == "restore":
            revived = _dv_delta_rows(
                spark, table_dir, [(c, p) for p, c in dv_changed], m_v.get("schema")
            )
            cur = revived if cur is None else cur.unionByName(revived)
        dv_changed = []
    if m_v["op"] == "restore":
        # tuple-level diff first (rows merely carried between the two
        # file sets cancel), then key attribution: a key on both sides
        # changed value (update images); only-removed keys died with
        # the rolled-back commits (delete); only-added keys revive
        # (insert)
        if prev is None and cur is None:
            return None
        removed = prev if cur is None else (prev.exceptAll(cur) if prev is not None else None)
        added = cur if prev is None else (cur.exceptAll(prev) if cur is not None else None)
        out = []
        if removed is not None and added is not None:
            added_keys = added.select(*key_cols).distinct()
            removed_keys = removed.select(*key_cols).distinct()
            out.append(
                removed.join(F.broadcast(added_keys), key_cols, "left_semi")
                .withColumn("_change_type", F.lit("update_preimage"))
            )
            out.append(
                removed.join(F.broadcast(added_keys), key_cols, "left_anti")
                .withColumn("_change_type", F.lit("delete"))
            )
            out.append(
                added.join(F.broadcast(removed_keys), key_cols, "left_semi")
                .withColumn("_change_type", F.lit("update_postimage"))
            )
            out.append(
                added.join(F.broadcast(removed_keys), key_cols, "left_anti")
                .withColumn("_change_type", F.lit("insert"))
            )
        elif removed is not None:
            out.append(removed.withColumn("_change_type", F.lit("delete")))
        elif added is not None:
            out.append(added.withColumn("_change_type", F.lit("insert")))
        if not out:
            return None
        res = out[0]
        for df in out[1:]:
            res = res.unionByName(df)
        return res
    if cur is not None and m_v["op"] in ("upsert", "merge"):
        # merge stamps its written rows (updates + inserts) with
        # eff_epoch exactly like an upsert, so one CDF path serves both
        post = cur.filter(F.col("_epoch") == _commit_eff_epoch(m_v))
    else:
        post = None  # delete ops introduce no rows
    out = []
    if post is not None and prev is not None:
        keys_post = post.select(*key_cols).distinct()
        pre = prev.join(F.broadcast(keys_post), key_cols, "left_semi")
        updated_keys = pre.select(*key_cols).distinct()
        out.append(pre.withColumn("_change_type", F.lit("update_preimage")))
        out.append(
            post.join(F.broadcast(updated_keys), key_cols, "left_semi")
            .withColumn("_change_type", F.lit("update_postimage"))
        )
        out.append(
            post.join(F.broadcast(updated_keys), key_cols, "left_anti")
            .withColumn("_change_type", F.lit("insert"))
        )
        cur_keys = cur.select(*key_cols).distinct()
        out.append(
            prev.join(F.broadcast(cur_keys), key_cols, "left_anti")
            .withColumn("_change_type", F.lit("delete"))
        )
    elif post is not None:
        out.append(post.withColumn("_change_type", F.lit("insert")))
    elif prev is not None:
        cur_keys = (
            cur.select(*key_cols).distinct() if cur is not None else None
        )
        deleted = (
            prev if cur_keys is None
            else prev.join(F.broadcast(cur_keys), key_cols, "left_anti")
        )
        out.append(deleted.withColumn("_change_type", F.lit("delete")))
    if dv_changed:
        out.append(
            _dv_delta_rows(spark, table_dir, dv_changed, m_v.get("schema"))
            .withColumn("_change_type", F.lit("delete"))
        )
    if not out:
        return None
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def _dv_delta_rows(
    spark: SparkSession, table_dir: str, dv_changed: list[tuple[dict, dict]], schema_json
) -> DataFrame:
    """The rows a merge-on-read delete killed at this commit: raw file
    rows at positions (cur DV minus prev DV), per changed file."""
    data = _data_dir(table_dir)
    files = sorted({c["path"] for _, c in dv_changed})
    cur_dirs = sorted({c["dv"] for _, c in dv_changed if c.get("dv")})
    if cur_dirs:
        cur_dv = (
            spark.read.parquet(*[os.path.join(data, d) for d in cur_dirs])
            .filter(F.col("_file").isin(files))
            .select("_file", "_pos")
        )
    else:
        # the "to" side has no DV at all (e.g. a restore target that
        # predates every delete): nothing newly dead on this side
        cur_dv = spark.createDataFrame([], "_file string, _pos long")
    prev_dirs = sorted({p["dv"] for p, _ in dv_changed if p.get("dv")})
    if prev_dirs:
        prev_dv = (
            spark.read.parquet(*[os.path.join(data, d) for d in prev_dirs])
            .filter(F.col("_file").isin(files))
            .select("_file", "_pos")
        )
        newly = cur_dv.join(prev_dv, ["_file", "_pos"], "left_anti")
    else:
        newly = cur_dv
    reader = spark.read
    if schema_json is not None:
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
    raw = reader.parquet(*[os.path.join(data, f) for f in files])
    cols = raw.columns
    return (
        raw.select(
            "*",
            _rel_path(F.col("_metadata.file_path")).alias("_file"),
            F.col("_metadata.row_index").alias("_pos"),
        )
        .join(newly, ["_file", "_pos"], "left_semi")
        .select(*cols)
    )


def _commit_eff_epoch(manifest: dict) -> int:
    """The _epoch lineage value an upsert commit stamped on its rows.
    Recorded as eff_epoch since r5; older manifests used the caller's
    epoch id, or the version number for batch upserts."""
    eff = manifest.get("eff_epoch")
    if eff is not None:
        return int(eff)
    epoch = manifest.get("epoch")
    return int(epoch) if epoch is not None else int(manifest["version"])


def table_count(table_dir: str, version: int | None = None) -> int | None:
    """COUNT(*) from manifest metadata alone — zero data files read
    (Delta's numRecords answer). Available when every live file
    carries the per-file row count the stats pass records; returns
    None otherwise (stats were never enabled), so callers can fall
    back to a real count."""
    snap = snapshot(table_dir, version)
    if snap is None:
        return 0
    _, manifest = snap
    counts = [f.get("n_rows") for f in manifest["files"]]
    if any(c is None for c in counts):
        return None
    # n_rows is the RAW file count; deletion vectors subtract exactly
    # n_deleted live rows (positions are unique per file by construction)
    return sum(counts) - sum(int(f.get("n_deleted", 0)) for f in manifest["files"])


def history(table_dir: str) -> list[dict]:
    """Commit log, oldest first: version / op / epoch per entry."""
    out = []
    for v in list_versions(table_dir):
        m = read_manifest(table_dir, v)
        out.append(
            {
                "version": v,
                "op": m["op"],
                "epoch": m.get("epoch"),
                "n_files": len(m["files"]),
                "committed_at": m.get("committed_at"),
            }
        )
    return out


# ------------------------------------------------------------- write


def _txn_rel(version: int) -> str:
    """A fresh transaction directory name (data-dir relative) for an
    attempt at ``version``: unique per attempt, so a retried or
    conflicting writer never writes into another attempt's files."""
    return f"txn-{version:010d}-{uuid.uuid4().hex[:8]}"


def _kbs(entry: dict) -> list[int]:
    """The sorted bucket ids a manifest entry's file may hold: ``kbs``
    on packed entries, the single ``kb`` of an entry written when every
    file held exactly one bucket (those tables are read as they are,
    never migrated)."""
    return entry["kbs"] if "kbs" in entry else [entry["kb"]]


def _split_files(files: list[dict], buckets) -> tuple[list[dict], list[dict]]:
    """(carried, rewritten): a commit touching ``buckets`` rewrites
    every file that may hold one of them, whole, and carries every
    other file over by path."""
    want = set(buckets)
    carried, rewritten = [], []
    for f in files:
        (rewritten if want.intersection(_kbs(f)) else carried).append(f)
    return carried, rewritten


def _bucket_bytes(table_dir: str, entries: list[dict]) -> dict[int, float]:
    """Estimated bytes per bucket in these files: each file's size
    spread evenly over the buckets it may hold. Entries written before
    sizes were recorded are stat'ed."""
    est: dict[int, float] = {}
    for f in entries:
        size = f.get("size")
        if size is None:
            size = os.path.getsize(os.path.join(_data_dir(table_dir), f["path"]))
        kbs = _kbs(f)
        for kb in kbs:
            est[kb] = est.get(kb, 0.0) + size / len(kbs)
    return est


def _add_cached_bytes(est: dict[int, float], df: DataFrame, counts: dict[int, int]) -> None:
    """Fold a persisted frame's size into ``est``, spread over its
    buckets by row count (``counts``: kb -> rows). The size is the
    cached relation's own statistic, exact once an action has
    materialized the cache, so it costs no job."""
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    total = sum(counts.values())
    for kb, n in counts.items():
        est[kb] = est.get(kb, 0.0) + size * n / total


def _pack_buckets(est: dict[int, float], target: float) -> list[list[int]]:
    """Bin-pack buckets into write groups, each written as one file
    (Delta's optimized-write sizing). ``ceil(total / target)`` groups,
    at least one and at most one per bucket, each a contiguous run of
    bucket ids of about ``total / groups`` bytes: a bucket joins the
    group its byte midpoint falls in. A bucket bigger than ``target``
    gets a group of its own."""
    kbs = sorted(est)
    total = sum(est.values())
    n = min(max(1, math.ceil(total / target)), len(kbs))
    share = total / n
    groups: list[list[int]] = []
    acc, prev, prev_big = 0.0, None, False
    for kb in kbs:
        b = est[kb]
        g = min(n - 1, int((acc + b / 2) // share)) if share else 0
        big = b > target
        if g != prev or big or prev_big:
            groups.append([])
        groups[-1].append(kb)
        acc, prev, prev_big = acc + b, g, big
    return groups


def _write_groups(spark: SparkSession, est: dict[int, float]) -> list[list[int]]:
    """The write groups of a commit that rewrites the buckets in
    ``est``, sized so one file is about one read split
    (``spark.sql.files.maxPartitionBytes``)."""
    target = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return _pack_buckets(est, target)


def _by_group(df: DataFrame, groups: list[list[int]]) -> DataFrame:
    """``df`` with its write group ``_g`` and partitioned by it — the
    input contract of ``_write_txn_files``. One partition per group,
    at most one per core (groups beyond that share a task round-robin),
    so each group lands wholly in one task and is written as one file:
    Delta's optimizeWrite, as one shuffle. The partition count is
    explicit because AQE never coalesces a user-given count. Callers
    that transform rows per key (the upsert's last-writer-wins window)
    apply it BEFORE that step and partition their window by
    ``(_g, kb, key...)``, which this partitioning satisfies, so the
    window and the write share this one exchange."""
    g = None
    for i in range(len(groups) - 1, -1, -1):
        cond = F.col("kb") >= groups[i][0]
        g = F.when(cond, i) if g is None else g.when(cond, i)
    n = min(len(groups), df.sparkSession.sparkContext.defaultParallelism)
    return df.withColumn("_g", g).repartitionById(n, "_g")


def _write_txn_files(
    merged: DataFrame,
    table_dir: str,
    txn_rel: str,
    groups: list[list[int]],
    stats_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> list[dict]:
    """Write one transaction's data files under ``txn_rel`` and return
    manifest entries. ``merged`` must come out of ``_by_group(...,
    groups)``: this function adds no shuffle of its own, so each write
    group is written by the one task holding it — exactly one file per
    group, unless ``max_records_per_file`` splits an oversized one.
    Readers take explicit file lists, so every extra file would tax
    each later read_table with per-file planning and footer reads.

    Each entry records ``kbs`` (the group's buckets: the file may hold
    only these) and ``size`` (bytes on disk, the next commit's packing
    input). `partitionBy` on the group column splits the write per
    group without writing ``_g`` as data; the hive dirs are renamed to
    ``b<first kb>-<last kb>`` so Spark never infers a partition column
    from them."""
    txn_abs = os.path.join(_data_dir(table_dir), txn_rel)
    writer = merged.withColumnRenamed("_g", "_g_part").write.partitionBy("_g_part")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.parquet(txn_abs)
    entries: list[dict] = []
    for d in sorted(os.listdir(txn_abs)):
        if not d.startswith("_g_part="):
            continue
        kbs = groups[int(d.split("=", 1)[1])]
        safe = f"b{kbs[0]:05d}-{kbs[-1]:05d}"
        os.rename(os.path.join(txn_abs, d), os.path.join(txn_abs, safe))
        for name in sorted(os.listdir(os.path.join(txn_abs, safe))):
            if name.endswith(".parquet"):
                size = os.path.getsize(os.path.join(txn_abs, safe, name))
                entries.append({"path": f"{txn_rel}/{safe}/{name}", "kbs": kbs, "size": size})
    if stats_cols:
        _attach_file_stats(merged.sparkSession, table_dir, entries, stats_cols)
    return entries


def _attach_file_stats(spark, table_dir: str, entries: list[dict], stats_cols: list[str]) -> None:
    """Per-file min/max for the stats columns, recorded on the
    manifest entries — the Delta/Iceberg data-skipping statistic. One
    aggregation job over ONLY the just-written files, grouped by
    input_file_name(), so the cost is O(new data per epoch). Values
    are stored as JSON scalars: numeric columns natively, everything
    else via str() (ISO timestamps/strings compare lexicographically,
    which is what prune_files uses)."""
    by_path = {os.path.join(_data_dir(table_dir), e["path"]): e for e in entries}
    if not by_path:
        return
    aggs = [F.count(F.lit(1)).alias("_n_rows")]
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"_min_{c}"))
        aggs.append(F.max(c).alias(f"_max_{c}"))
    rows = (
        spark.read.parquet(*by_path)
        .groupBy(F.input_file_name().alias("_file"))
        .agg(*aggs)
        .collect()  # bounded: one row per new file this epoch
    )

    def scalar(v):
        return v if v is None or isinstance(v, (int, float, str, bool)) else str(v)

    from urllib.parse import unquote, urlparse

    for r in rows:
        # input_file_name returns a URI (file:///...); take its path
        path = unquote(urlparse(r["_file"]).path) or r["_file"]
        entry = by_path.get(path) or by_path.get(os.path.normpath(path))
        if entry is None:
            matches = [e for p, e in by_path.items() if path.endswith(p) or p.endswith(path)]
            if len(matches) != 1:
                raise ValueError(f"cannot match stats row to file: {r['_file']}")
            entry = matches[0]
        entry["n_rows"] = int(r["_n_rows"])
        entry["stats"] = {
            c: [scalar(r[f"_min_{c}"]), scalar(r[f"_max_{c}"])] for c in stats_cols
        }


def prune_files(manifest: dict, between: dict) -> list[dict]:
    """Manifest entries whose [min, max] ranges can contain a row
    matching EVERY (col, (lo, hi)) bound — the data-skipping
    predicate. Files without stats for a bound column are kept
    (pruning must only ever drop provably-irrelevant files). Bounds
    are inclusive; pass (lo, None) / (None, hi) for one-sided."""
    out = []
    for f in manifest["files"]:
        stats = f.get("stats", {})
        keep = True
        for col, (lo, hi) in between.items():
            if col not in stats:
                continue
            fmin, fmax = stats[col]
            if fmin is None and fmax is None:
                # all-null file: a range bound is never satisfied by NULL
                keep = False
                break
            if lo is not None and fmax is not None and fmax < lo:
                keep = False
                break
            if hi is not None and fmin is not None and fmin > hi:
                keep = False
                break
        if keep:
            out.append(f)
    return out


def _dv_delete_entries(
    spark: SparkSession,
    table_dir: str,
    old_manifest: dict,
    new_version: int,
    cand_entries: list[dict],
    matcher,
    live=None,
) -> list[dict] | None:
    """Merge-on-read delete core: compute the row POSITIONS matching
    ``matcher`` among the candidates' LIVE rows (existing DVs applied
    first, so new positions are disjoint from old), write ONE DV
    sidecar for this commit holding (file, pos) — the union of each
    touched file's old DV and its new deletions — and return
    replacement manifest entries whose ``dv`` pointer names the new
    sidecar. Returns None when nothing matched (no commit needed).

    The data files are NOT rewritten — cost is one scan of the
    candidate files plus a sidecar of O(deleted positions), the
    Delta/Iceberg v2 deletion-vector pattern; compaction later folds
    DVs into clean files. n_rows stats stay the RAW file count;
    ``n_deleted`` tracks the DV cardinality so table_count stays
    metadata-only.

    ``live`` (r14): the caller may pass the
    ``_read_entries_with_pos`` frame it already holds — PERSISTED —
    so the matcher count and the sidecar write here, plus the
    caller's own consumers (updated-row appends), all read one
    materialized candidate scan instead of re-deriving it per action.
    When None, the scan is built and persisted here (the count job
    materializes it; the sidecar write reads the cache)."""
    owns_live = live is None
    if owns_live:
        live = _read_entries_with_pos(
            spark, table_dir, cand_entries, old_manifest.get("schema")
        ).persist()
    try:
        planned = _dv_match_counts(live, matcher)
        if planned is None:
            return None
        matches, counts = planned
        return _dv_write_sidecar(
            spark, table_dir, _txn_rel(new_version), cand_entries, matches, counts
        )
    finally:
        if owns_live:
            live.unpersist()


def _dv_match_counts(live, matcher):
    """Phase 1 of a DV commit: matched (_file, _pos) rows and their
    per-file counts. The count job is also the action that
    MATERIALIZES the caller's persisted candidate scan — run it before
    launching anything concurrent against that scan (the r8 lesson:
    two concurrent jobs racing to fill one cache each compute the
    lineage). Returns None when nothing matched (no commit needed)."""
    matches = matcher(live).select("_file", "_pos")
    counts = {
        r["_file"]: r["_n"]
        for r in matches.groupBy("_file").agg(F.count(F.lit(1)).alias("_n")).collect()
    }  # bounded: one row per candidate file
    if not counts:
        return None
    return matches, counts


def _dv_write_sidecar(
    spark: SparkSession,
    table_dir: str,
    txn_rel: str,
    cand_entries: list[dict],
    matches,
    counts: dict,
) -> list[dict]:
    """Phase 2 of a DV commit: write the sidecar (new matches ∪ the
    touched files' carried-forward old DV rows) and return the
    replacement manifest entries. Separated from phase 1 so callers
    with an independent append (UPDATE/MERGE's rewritten rows) can
    overlap the two writes (guide §2.6) — both read the persisted
    candidate scan phase 1 already materialized."""
    sidecar = matches
    old_dv_dirs = sorted({f["dv"] for f in cand_entries if f.get("dv")})
    if old_dv_dirs:
        old_dv_files = sorted({f["path"] for f in cand_entries if f.get("dv")})
        old_dv = (
            spark.read.parquet(
                *[os.path.join(_data_dir(table_dir), d) for d in old_dv_dirs]
            )
            .filter(F.col("_file").isin(old_dv_files))
            .select("_file", "_pos")
        )
        carried = old_dv.filter(F.col("_file").isin(sorted(counts)))
        sidecar = sidecar.unionByName(carried)
    dv_rel = f"{txn_rel}/_dv"
    # partition the sidecar BY FILE: a commit deleting billions of
    # rows across many files writes one sidecar file per data-file
    # group instead of funnelling through a single writer. r14: the
    # shuffle is sized to the touched-file count (the key space's
    # exact cardinality) instead of the AQE initial partition count —
    # a point delete writes through 1 partition, not a 256-partition
    # exchange coalesced after the fact.
    sidecar.repartition(max(1, len(counts)), "_file").write.parquet(
        os.path.join(_data_dir(table_dir), dv_rel)
    )
    out = []
    for e in cand_entries:
        if e["path"] in counts:
            ne = dict(e, dv=dv_rel,
                      n_deleted=int(e.get("n_deleted", 0)) + int(counts[e["path"]]))
            out.append(ne)
        else:
            out.append(e)
    return out


def _dv_overlapped_writes(
    spark: SparkSession,
    table_dir: str,
    version: int,
    cand_entries: list[dict],
    matches,
    counts: dict,
    rows: DataFrame | None,
    groups: list[list[int]],
    stats_cols: list[str] | None,
) -> tuple[list[dict], list[dict]]:
    """Phase 2 of an UPDATE/MERGE DV commit: the sidecar write and the
    append of ``rows`` (``_by_group(..., groups)``; None when nothing
    is appended) are independent writes over the candidate scan phase 1
    materialized, so they run concurrently. Returns (replacement
    candidate entries, appended entries). Each write gets its own txn
    dir; if either fails, both dirs are removed (best effort) before
    the error is re-raised — the survivor's files are referenced by no
    manifest, and vacuum's age gate would keep them for a day."""
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    side_rel, app_rel = _txn_rel(version), _txn_rel(version)
    # leaving the pool waits for both writes, so neither is still
    # writing into its dir when the cleanup below removes it
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_side = pool.submit(
            _dv_write_sidecar, spark, table_dir, side_rel, cand_entries, matches, counts
        )
        f_app = None
        if rows is not None:
            f_app = pool.submit(
                _write_txn_files, rows, table_dir, app_rel, groups, stats_cols=stats_cols
            )
    try:
        return f_side.result(), (f_app.result() if f_app is not None else [])
    except BaseException:
        for rel in (side_rel, app_rel):
            shutil.rmtree(os.path.join(_data_dir(table_dir), rel), ignore_errors=True)
        raise


def upsert(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    key_cols: list[str],
    n_buckets: int = 64,
    order_col: str | None = None,
    epoch_id: int | None = None,
    max_retries: int = 20,
    stats_cols: list[str] | None = None,
    merge_schema: bool = False,
    app_id: str | None = None,
) -> int:
    """Merge a batch into the table with last-writer-wins semantics per
    key, committing atomically across every affected bucket. Returns
    the committed (or already-committed, for a replayed epoch) version.

    Only the files that may hold an affected bucket are read and
    rewritten (packed into write groups by size); every other file
    carries over into the new manifest by reference — its
    data-skipping stats carry with it. ``stats_cols`` enables
    per-file min/max stats for those columns (defaults to whatever the
    table's previous commit recorded, so one opt-in sticks).
    ``merge_schema=True`` permits ADDITIVE schema evolution: the union
    schema is recorded on the manifest, rows/files missing a column
    read back as NULL (Delta's mergeSchema contract); without the
    flag a column-set mismatch fails loudly.

    Exactly-once scoping: the replay ledger is keyed by ``app_id``
    (Delta's txnAppId/txnVersion pattern), so two independent writers
    with overlapping epoch counters never swallow each other's
    batches. An app_id identifies a (query, checkpoint) pair — a
    stream restarted with a FRESH checkpoint restarts its epoch ids
    at 0 and must therefore present a new app_id, or its first
    batches are treated as replays. When ``epoch_id`` is given it is
    also the row lineage value ``_epoch`` (the caller owns LWW
    ordering across its epochs); a batch upsert without one gets
    max(all prior _epoch)+1, so it beats every committed row."""
    kb = F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets)).cast("int")
    for _ in range(max_retries):
        snap = snapshot(table_dir)
        old_version = -1 if snap is None else snap[0]
        old_manifest = {"files": [], "epochs": {}} if snap is None else snap[1]
        if _seen_epoch(old_manifest, app_id, epoch_id):
            return old_version  # replayed epoch (this app): already folded in
        if snap is not None:
            # the bucketing function is the table's physical identity:
            # a different n_buckets/key_cols would scatter a key across
            # two buckets and silently break LWW — refuse loudly
            if old_manifest["key_cols"] != key_cols or old_manifest["n_buckets"] != n_buckets:
                raise ValueError(
                    f"table is keyed ({old_manifest['key_cols']}, "
                    f"n_buckets={old_manifest['n_buckets']}); caller passed "
                    f"({key_cols}, n_buckets={n_buckets})"
                )
        eff_epoch = int(epoch_id) if epoch_id is not None else _next_epoch(old_manifest)
        # persist: the batch is evaluated for the affected-bucket scan
        # AND the merged write (and again on every conflict retry) — an
        # expensive upstream plan must not run twice per attempt
        incoming = (
            batch.withColumn("_epoch", F.lit(eff_epoch)).withColumn("kb", kb).persist()
        )
        try:
            # schema gate against the MANIFEST (not just the files read
            # this epoch): an upsert into empty buckets must not silently
            # narrow or widen an evolved table either
            old_schema = None
            if old_manifest.get("schema") is not None:
                from pyspark.sql.types import StructType

                old_schema = StructType.fromJson(json.loads(old_manifest["schema"]))
                old_cols, new_cols = set(old_schema.fieldNames()), set(incoming.columns)
                if old_cols != new_cols and not merge_schema:
                    raise ValueError(
                        f"schema mismatch on columns {sorted(old_cols ^ new_cols)}; "
                        "pass merge_schema=True to evolve the table additively"
                    )
            counts = {
                r["kb"]: r["count"] for r in incoming.groupBy("kb").count().collect()
            }
            if not counts:
                return old_version
            keep, cand = _split_files(old_manifest["files"], counts)
            est = _bucket_bytes(table_dir, cand)
            _add_cached_bytes(est, incoming, counts)
            groups = _write_groups(spark, est)
            existing = _read_entries(spark, table_dir, cand, old_manifest.get("schema"))
            if existing is None:
                merged = incoming
            else:
                # additive evolution (merge_schema=True): union schema;
                # rows missing a column get NULL, and the new manifest
                # schema makes files from BEFORE the evolution read back
                # the same way. Identical column sets pass through
                # unchanged.
                merged = existing.unionByName(incoming, allowMissingColumns=True)
            order = [F.desc("_epoch")] + ([F.desc(order_col)] if order_col else [])
            w = Window.partitionBy("_g", "kb", *key_cols).orderBy(*order)
            deduped = (
                _by_group(merged, groups)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            eff_stats = stats_cols if stats_cols is not None else old_manifest.get("stats_cols")
            new_entries = _write_txn_files(
                deduped, table_dir, _txn_rel(old_version + 1), groups, stats_cols=eff_stats
            )
            # the manifest schema is the UNION of the old table schema and
            # this epoch's columns — never narrowed by which buckets this
            # epoch happened to touch
            schema = merged.schema
            if old_schema is not None:
                have = set(schema.fieldNames())
                for f in old_schema.fields:
                    if f.name not in have:
                        schema = schema.add(f)
            manifest = {
                "version": old_version + 1,
                "op": "upsert",
                "epoch": epoch_id if epoch_id is None else int(epoch_id),
                "eff_epoch": eff_epoch,
                "app_id": app_id,
                "epochs": _record_epoch(old_manifest, app_id, epoch_id),
                "max_epoch": max(eff_epoch, _next_epoch(old_manifest) - 1),
                "key_cols": key_cols,
                "n_buckets": n_buckets,
                "stats_cols": eff_stats,
                "schema": schema.json(),
                "files": keep + new_entries,
            }
            try:
                _commit(table_dir, old_version + 1, manifest)
                return old_version + 1
            except CommitConflict:
                continue  # loser: fresh snapshot, rewrite, re-commit
        finally:
            incoming.unpersist()
    raise CommitConflict(f"gave up after {max_retries} commit conflicts")


def delete(
    spark: SparkSession,
    table_dir: str,
    keys: DataFrame,
    epoch_id: int | None = None,
    max_retries: int = 20,
    app_id: str | None = None,
    mode: str = "cow",
) -> int:
    """Atomically delete every row whose key matches a row of ``keys``
    (columns must equal the table's key_cols) — the Delta DELETE /
    DynamoDB deleteItem analogue. With ``mode="cow"`` (default), only
    the files that may hold a bucket the keys hash into are rewritten
    (anti-join against the broadcastable key set), everything else
    carries over by reference, and the whole multi-bucket removal is
    one manifest commit. With ``mode="dv"`` (merge-on-read), no data file is
    rewritten at all: the matching row POSITIONS go into a
    deletion-vector sidecar referenced by the affected files' manifest
    entries and are anti-joined out at read time — O(deleted rows)
    write cost instead of O(affected files), the point-delete path
    for tables whose files are large. Compaction folds DVs back
    into clean files. Read-back equality between the two modes is
    pinned in tests. The epoch ledger gives replayed deletes the same
    exactly-once treatment as upserts."""
    if mode not in ("cow", "dv"):
        raise ValueError(f"delete mode must be 'cow' or 'dv', got {mode!r}")
    for _ in range(max_retries):
        snap = snapshot(table_dir)
        if snap is None:
            raise ValueError(f"delete on empty table {table_dir}")
        old_version, old_manifest = snap
        if _seen_epoch(old_manifest, app_id, epoch_id):
            return old_version
        key_cols = old_manifest["key_cols"]
        n_buckets = old_manifest["n_buckets"]
        if sorted(keys.columns) != sorted(key_cols):
            raise ValueError(f"delete keys must have columns {key_cols}, got {keys.columns}")
        kb = F.pmod(
            F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets)
        ).cast("int")
        tagged = keys.withColumn("kb", kb)
        affected = sorted(r.kb for r in tagged.select("kb").distinct().collect())
        if not affected:
            return old_version
        keep, cand = _split_files(old_manifest["files"], affected)
        if not cand:
            return old_version  # no file holds these buckets: nothing to delete
        if mode == "dv":
            new_entries = _dv_delete_entries(
                spark, table_dir, old_manifest, old_version + 1, cand,
                matcher=lambda live: live.join(
                    F.broadcast(tagged.select(*key_cols)), key_cols, "left_semi"
                ),
            )
            if new_entries is None:
                return old_version  # nothing matched: no commit needed
        else:
            existing = _read_entries(
                spark, table_dir, cand, old_manifest.get("schema")
            )
            remaining = existing.join(
                F.broadcast(tagged.select(*key_cols)), key_cols, "left_anti"
            )
            groups = _write_groups(spark, _bucket_bytes(table_dir, cand))
            new_entries = _write_txn_files(
                _by_group(remaining, groups), table_dir, _txn_rel(old_version + 1), groups,
                stats_cols=old_manifest.get("stats_cols"),
            )
        manifest = dict(
            old_manifest,
            version=old_version + 1,
            op="delete",
            epoch=None if epoch_id is None else int(epoch_id),
            eff_epoch=None,
            app_id=app_id,
            epochs=_record_epoch(old_manifest, app_id, epoch_id),
            files=keep + new_entries,
        )
        try:
            _commit(table_dir, old_version + 1, manifest)
            return old_version + 1
        except CommitConflict:
            continue
    raise CommitConflict(f"gave up after {max_retries} commit conflicts")


def delete_where(
    spark: SparkSession,
    table_dir: str,
    condition,
    between: dict | None = None,
    epoch_id: int | None = None,
    max_retries: int = 20,
    app_id: str | None = None,
    mode: str = "cow",
) -> int:
    """Atomically delete every row matching ``condition`` (a Column or
    SQL string) — Delta's DELETE WHERE, with file skipping: when
    ``between`` bounds are given they prune the candidate files via
    the manifest's min/max stats, and ONLY candidate files are read
    and (mode="cow") rewritten; everything else carries over by
    reference. The caller contract is the usual data-skipping one:
    ``between`` must be implied by ``condition`` (a file outside the
    bounds contains no matching row), which makes the prune lossless.
    ``mode="dv"`` records matching row positions in a deletion-vector
    sidecar instead of rewriting the candidates (see ``delete``).

    This is the atomic TTL-retention primitive: with per-file stats on
    the ttl column, expiring old rows rewrites only the files whose
    ttl range crosses the cutoff — O(expiring data), not O(table)."""
    if mode not in ("cow", "dv"):
        raise ValueError(f"delete mode must be 'cow' or 'dv', got {mode!r}")
    cond = F.expr(condition) if isinstance(condition, str) else condition
    for _ in range(max_retries):
        snap = snapshot(table_dir)
        if snap is None:
            raise ValueError(f"delete_where on empty table {table_dir}")
        old_version, old_manifest = snap
        if _seen_epoch(old_manifest, app_id, epoch_id):
            return old_version
        candidates = (
            prune_files(old_manifest, between) if between else old_manifest["files"]
        )
        if not candidates:
            return old_version  # stats prove nothing matches
        cand_paths = {f["path"] for f in candidates}
        keep = [f for f in old_manifest["files"] if f["path"] not in cand_paths]
        if mode == "dv":
            new_entries = _dv_delete_entries(
                spark, table_dir, old_manifest, old_version + 1, candidates,
                matcher=lambda live: live.filter(F.coalesce(cond, F.lit(False))),
            )
            if new_entries is None:
                return old_version  # nothing matched: no commit needed
        else:
            remaining = _read_entries(
                spark, table_dir, candidates, old_manifest.get("schema")
            ).filter(~F.coalesce(cond, F.lit(False)))
            groups = _write_groups(spark, _bucket_bytes(table_dir, candidates))
            new_entries = _write_txn_files(
                _by_group(remaining, groups), table_dir, _txn_rel(old_version + 1), groups,
                stats_cols=old_manifest.get("stats_cols"),
            )
        manifest = dict(
            old_manifest,
            version=old_version + 1,
            op="delete_where",
            epoch=None if epoch_id is None else int(epoch_id),
            eff_epoch=None,
            app_id=app_id,
            epochs=_record_epoch(old_manifest, app_id, epoch_id),
            files=keep + new_entries,
        )
        try:
            _commit(table_dir, old_version + 1, manifest)
            return old_version + 1
        except CommitConflict:
            continue
    raise CommitConflict(f"gave up after {max_retries} commit conflicts")


def merge(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    when_matched_update: dict | None = None,
    when_matched_delete=None,
    when_not_matched_insert: bool = True,
    epoch_id: int | None = None,
    max_retries: int = 20,
    app_id: str | None = None,
    mode: str = "cow",
) -> int:
    """Delta's MERGE INTO in one atomic commit: join ``source`` to the
    table on its key columns, then per matched target row apply
    ``when_matched_delete`` (a Column/SQL condition; may reference
    source columns as ``_src_<name>``) first, else
    ``when_matched_update`` (column -> expression over the joined row,
    source columns as ``_src_<name>``); source rows matching no target
    key insert when ``when_not_matched_insert`` (source must then
    carry the full table schema). ``upsert`` is the special case
    update=whole-row-replace + insert; ``merge`` generalizes it to
    conditional column-level updates and matched deletes without
    extra commits. The source must carry at most ONE row per key —
    stricter than Delta (which rejects only matched duplicates and
    inserts not-matched ones): this table maintains one row per key,
    so duplicate inserts would corrupt it just like matched fan-out.

    ``mode="cow"`` rewrites the files that may hold the source keys'
    buckets — one manifest commit. ``mode="dv"`` is merge-on-read:
    matched rows a clause touches (updated or deleted) are killed via
    a deletion-vector sidecar and the updated + inserted rows are
    appended as fresh packed files in the same commit — no file
    rewrite, write cost O(source-touched rows), the Delta/Iceberg v2
    MERGE trade; matched rows no clause touches stay in place.

    Either way: the app-scoped exactly-once ledger applies, and rows
    WRITTEN by the merge (updated + inserted) are stamped with this
    commit's eff_epoch, exactly as an upsert stamps its batch. The
    change feed therefore reports merge commits through the same
    logic as upserts: update pre/post images for matched updates,
    inserts for new keys, deletes for matched-delete rows (dv mode
    folds the DV-killed rows into the same classification)."""
    if when_matched_update is None and when_matched_delete is None and not when_not_matched_insert:
        raise ValueError("merge needs at least one WHEN clause")
    if mode not in ("cow", "dv"):
        raise ValueError(f"merge mode must be 'cow' or 'dv', got {mode!r}")
    upd = {
        c: (F.expr(v) if isinstance(v, str) else v)
        for c, v in (when_matched_update or {}).items()
    }
    del_cond = (
        F.expr(when_matched_delete)
        if isinstance(when_matched_delete, str)
        else when_matched_delete
    )
    src_checked = False  # duplicate-key scan runs once, not per retry
    for _ in range(max_retries):
        snap = snapshot(table_dir)
        if snap is None:
            raise ValueError(
                f"merge into empty table {table_dir}: create it with upsert first"
            )
        old_version, old_manifest = snap
        if _seen_epoch(old_manifest, app_id, epoch_id):
            return old_version
        key_cols = old_manifest["key_cols"]
        n_buckets = old_manifest["n_buckets"]
        bad = {*upd} & {*key_cols, "kb", "_epoch"}
        if bad:
            raise ValueError(
                f"merge must not update key/bucket/lineage columns {sorted(bad)}"
            )
        missing = [k for k in key_cols if k not in source.columns]
        if missing:
            raise ValueError(f"merge source lacks key column(s) {missing}")
        eff_epoch = int(epoch_id) if epoch_id is not None else _next_epoch(old_manifest)
        kb = F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets)).cast("int")
        src = source.withColumn("kb", kb).persist()
        existing_pos = None  # dv mode: the ONE persisted candidate scan (r14)
        try:
            if not src_checked:
                # One key, one source row — DELIBERATELY stricter than
                # Delta, which raises only when multiple source rows
                # match one TARGET row and lets duplicate not-matched
                # rows all insert. This table carries a one-row-per-key
                # invariant (upsert's row_number dedup; CDF classifies
                # by key), so duplicate inserts are as corrupting as
                # matched fan-out (dv mode would kill the old row once
                # but append two updated copies). Source-only, hence
                # target-independent: one scan per merge call, off the
                # persisted src, not per retry.
                dup = (
                    src.groupBy(*[F.col(k) for k in key_cols])
                    .count()
                    .filter(F.col("count") > 1)
                    .limit(1)
                    .collect()
                )
                if dup:
                    d = dup[0]
                    raise ValueError(
                        "merge source has duplicate key "
                        f"{tuple(d[k] for k in key_cols)!r} ({d['count']} rows): "
                        "this table keeps one row per key, so a key may "
                        "appear in at most one source row (stricter than "
                        "Delta, which allows duplicate not-matched rows); "
                        "dedupe the source first"
                    )
                src_checked = True
            counts = {r["kb"]: r["count"] for r in src.groupBy("kb").count().collect()}
            if not counts:
                return old_version
            keep, cand = _split_files(old_manifest["files"], counts)
            # cow rewrites the candidates whole plus the source's rows;
            # dv appends only rows written for the source's keys
            est = {} if mode == "dv" else _bucket_bytes(table_dir, cand)
            _add_cached_bytes(est, src, counts)
            groups = _write_groups(spark, est)
            if mode == "dv" and cand:
                # dv mode consumes the candidate rows three ways (the
                # DV matcher count + sidecar write, the updated-row
                # append, the not-matched anti-join); one persisted
                # scan with row positions serves all of them (r14)
                existing_pos = _read_entries_with_pos(
                    spark, table_dir, cand, old_manifest.get("schema")
                ).persist()
                existing = existing_pos.drop("_file", "_pos")
            else:
                existing = _read_entries(spark, table_dir, cand, old_manifest.get("schema"))
            if old_manifest.get("schema") is not None:
                from pyspark.sql.types import StructType

                schema_cols = StructType.fromJson(
                    json.loads(old_manifest["schema"])
                ).fieldNames()
            else:
                schema_cols = existing.columns if existing is not None else None
            src_renamed = src.select(
                *[F.col(k) for k in key_cols],
                *[
                    F.col(c).alias(f"_src_{c}")
                    for c in source.columns
                    if c not in key_cols
                ],
            )
            parts = []
            cand_entries = cand  # dv mode swaps in DV'd replacements
            dv_plan = None  # dv mode: (matches, counts) for the overlapped sidecar write
            if existing is not None:
                # a left-join row is matched iff a source row exists —
                # detected via a sentinel column, since all-null source
                # payload columns are legal
                src_sentinel = src_renamed.withColumn("_src_matched", F.lit(True))
                if mode == "dv":
                    # kill the matched rows a clause TOUCHES (updated or
                    # deleted) via a DV sidecar; untouched matched rows
                    # stay in place and never rewrite
                    clause = F.lit(bool(upd))
                    if del_cond is not None:
                        clause = clause | F.coalesce(del_cond, F.lit(False))

                    def dv_matcher(live):
                        j = live.join(F.broadcast(src_sentinel), key_cols, "left")
                        return j.filter(
                            F.coalesce(F.col("_src_matched"), F.lit(False)) & clause
                        )

                    # phase 1 only: the count job materializes the
                    # persisted candidate scan; the sidecar WRITE is
                    # deferred so it can overlap the updated/inserted
                    # rows' append below (guide §2.6)
                    dv_plan = _dv_match_counts(existing_pos, dv_matcher)
                    if upd:
                        upd_rows = existing.join(
                            F.broadcast(src_sentinel), key_cols, "inner"
                        )
                        if del_cond is not None:
                            upd_rows = upd_rows.filter(
                                ~F.coalesce(del_cond, F.lit(False))
                            )
                        for c, expr in upd.items():
                            upd_rows = upd_rows.withColumn(c, expr)
                        upd_rows = upd_rows.withColumn("_epoch", F.lit(eff_epoch))
                        parts.append(upd_rows.select(*schema_cols))
                else:
                    joined = existing.join(F.broadcast(src_sentinel), key_cols, "left")
                    matched = F.coalesce(F.col("_src_matched"), F.lit(False))
                    surviving = joined
                    if del_cond is not None:
                        surviving = surviving.filter(
                            ~(matched & F.coalesce(del_cond, F.lit(False)))
                        )
                    updated = surviving
                    if upd:
                        for c, expr in upd.items():
                            updated = updated.withColumn(
                                c, F.when(matched, expr).otherwise(F.col(c))
                            )
                        updated = updated.withColumn(
                            "_epoch",
                            F.when(matched, F.lit(eff_epoch)).otherwise(F.col("_epoch")),
                        )
                    parts.append(updated.select(*schema_cols))
            if when_not_matched_insert:
                new_keys = (
                    src if existing is None
                    else src.join(
                        existing.select(*key_cols).distinct(), key_cols, "left_anti"
                    )
                )
                inserts = new_keys.withColumn("_epoch", F.lit(eff_epoch))
                if schema_cols is not None:
                    have = set(inserts.columns)
                    lacking = [c for c in schema_cols if c not in have]
                    if lacking:
                        raise ValueError(
                            f"merge insert needs full-schema source rows; missing {lacking}"
                        )
                    inserts = inserts.select(*schema_cols)
                parts.append(inserts)
            if not parts and mode == "dv" and dv_plan is None:
                return old_version  # no clause fired, nothing to insert
            if not parts and mode != "dv" and cand_entries is cand:
                return old_version
            merged = None
            if parts:
                merged = parts[0]
                for p in parts[1:]:
                    merged = merged.unionByName(p)
                merged = _by_group(merged, groups)
            if mode == "dv" and dv_plan is not None:
                cand_entries, new_entries = _dv_overlapped_writes(
                    spark, table_dir, old_version + 1, cand, *dv_plan,
                    merged, groups, old_manifest.get("stats_cols"),
                )
            elif merged is not None:
                new_entries = _write_txn_files(
                    merged, table_dir, _txn_rel(old_version + 1), groups,
                    stats_cols=old_manifest.get("stats_cols"),
                )
            else:
                new_entries = []
            if mode == "dv":
                # affected buckets' files stay (with moved DV pointers
                # where rows died); appends land beside them
                new_entries = cand_entries + new_entries
            manifest = dict(
                old_manifest,
                version=old_version + 1,
                op="merge",
                epoch=None if epoch_id is None else int(epoch_id),
                eff_epoch=eff_epoch,
                app_id=app_id,
                epochs=_record_epoch(old_manifest, app_id, epoch_id),
                max_epoch=max(eff_epoch, _next_epoch(old_manifest) - 1),
                files=keep + new_entries,
            )
            try:
                _commit(table_dir, old_version + 1, manifest)
                return old_version + 1
            except CommitConflict:
                continue
        finally:
            src.unpersist()
            if existing_pos is not None:
                existing_pos.unpersist()
    raise CommitConflict(f"gave up after {max_retries} commit conflicts")


def update_where(
    spark: SparkSession,
    table_dir: str,
    condition,
    set: dict,
    between: dict | None = None,
    epoch_id: int | None = None,
    max_retries: int = 20,
    app_id: str | None = None,
    mode: str = "cow",
) -> int:
    """Atomically UPDATE every row matching ``condition``: each
    ``set`` entry (column -> Column or SQL string) is applied to
    matching rows, everything else is untouched — Delta's UPDATE,
    with the same ``between`` stats skipping as delete_where (only
    candidate files are read).

    ``mode="cow"`` rewrites the candidate files with the updated
    rows folded in. ``mode="dv"`` is merge-on-read: the matched rows'
    positions go into a deletion-vector sidecar (killing the OLD
    versions) and the UPDATED rows are appended as fresh packed
    files in the same commit — no candidate rewrite, write cost
    O(matched rows), the Delta/Iceberg v2 UPDATE trade. Keys must not
    be updated (that is an upsert+delete, not an UPDATE — a changed
    key would scatter the row to a different bucket and break LWW);
    the row's ``_epoch`` lineage is preserved. The change feed
    reports tuple-level update_preimage/update_postimage rows for
    either mode."""
    if mode not in ("cow", "dv"):
        raise ValueError(f"update mode must be 'cow' or 'dv', got {mode!r}")
    cond = F.expr(condition) if isinstance(condition, str) else condition
    sets = {
        c: (F.expr(v) if isinstance(v, str) else v) for c, v in set.items()
    }
    for _ in range(max_retries):
        snap = snapshot(table_dir)
        if snap is None:
            raise ValueError(f"update_where on empty table {table_dir}")
        old_version, old_manifest = snap
        if _seen_epoch(old_manifest, app_id, epoch_id):
            return old_version
        bad = {*sets} & {*old_manifest["key_cols"], "kb", "_epoch"}
        if bad:
            raise ValueError(
                f"update_where must not modify key/bucket/lineage columns {sorted(bad)}"
            )
        candidates = (
            prune_files(old_manifest, between) if between else old_manifest["files"]
        )
        if not candidates:
            return old_version  # stats prove nothing matches
        cand_paths = {f["path"] for f in candidates}
        # dv mode appends only the matched rows: the candidates' bytes
        # bound them from above
        groups = _write_groups(spark, _bucket_bytes(table_dir, candidates))
        keep = [f for f in old_manifest["files"] if f["path"] not in cand_paths]
        matched = F.coalesce(cond, F.lit(False))

        def _apply(df: DataFrame, always: bool) -> DataFrame:
            out = df
            for c, expr in sets.items():
                out = out.withColumn(
                    c, expr if always else F.when(matched, expr).otherwise(F.col(c))
                )
            return out

        if mode == "dv":
            # ONE persisted candidate scan (r14): the DV matcher count,
            # the sidecar write, and the updated-row append previously
            # each re-derived the candidate read (3 scans per commit);
            # the count job materializes this cache, the two writes
            # read it.
            live_pos = _read_entries_with_pos(
                spark, table_dir, candidates, old_manifest.get("schema")
            ).persist()
            try:
                planned = _dv_match_counts(live_pos, lambda lv: lv.filter(matched))
                if planned is None:
                    return old_version  # nothing matched: no commit needed
                matches, counts = planned
                updated_rows = _apply(
                    live_pos.drop("_file", "_pos").filter(matched), always=True
                )
                new_cand, appended = _dv_overlapped_writes(
                    spark, table_dir, old_version + 1, candidates, matches, counts,
                    _by_group(updated_rows, groups), groups,
                    old_manifest.get("stats_cols"),
                )
            finally:
                live_pos.unpersist()
            files = keep + new_cand + appended
        else:
            live = _read_entries(spark, table_dir, candidates, old_manifest.get("schema"))
            rewritten = _apply(live, always=False)
            files = keep + _write_txn_files(
                _by_group(rewritten, groups), table_dir, _txn_rel(old_version + 1), groups,
                stats_cols=old_manifest.get("stats_cols"),
            )
        manifest = dict(
            old_manifest,
            version=old_version + 1,
            op="update_where",
            epoch=None if epoch_id is None else int(epoch_id),
            eff_epoch=None,
            app_id=app_id,
            epochs=_record_epoch(old_manifest, app_id, epoch_id),
            files=files,
        )
        try:
            _commit(table_dir, old_version + 1, manifest)
            return old_version + 1
        except CommitConflict:
            continue
    raise CommitConflict(f"gave up after {max_retries} commit conflicts")


def compact(
    spark: SparkSession,
    table_dir: str,
    sort_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
    zorder_cols: list[str] | None = None,
) -> int | None:
    """Rewrite the current snapshot into one transaction directory,
    its buckets re-packed into write groups by size (one file per
    group), and commit it as a new version — same rows, fewer files.
    Readers are never disturbed: old manifests keep resolving until
    vacuumed.

    ``sort_cols`` clusters rows inside each write group before the
    write (the group shuffle + sortWithinPartitions — the poor man's
    Z-order, one dimension at a time), and ``max_records_per_file``
    splits each group into several files: together they turn the
    per-file min/max stats into DISJOINT ranges, so data skipping on
    the sort column goes from "keeps most files" to "keeps the one
    file the range lives in". This is the periodic maintenance pass
    that buys back read selectivity on tables whose upsert keys don't
    correlate with the query predicate (e.g. ttl, event time).

    ``zorder_cols`` (2+ numeric columns) clusters on the Morton curve
    instead (OPTIMIZE ... ZORDER BY): each row sorts by the
    interleaved-bit z-value over the columns' observed [min, max]
    ranges (one bounded agg computes them), so every output file's
    min/max stats are narrow in EVERY z-ordered dimension at once —
    prune_files then skips on conjunctive multi-column ranges, which
    a single-column sort cannot give. Mutually exclusive with
    ``sort_cols``; stats_cols should cover the z-ordered columns for
    the skipping to bite.

    A snapshot with no live files (an emptied table) has nothing to
    rewrite: its version is returned and no commit is made."""
    if sort_cols and zorder_cols:
        raise ValueError("pass sort_cols or zorder_cols, not both")
    snap = snapshot(table_dir)
    if snap is None:
        return None
    version, manifest = snap
    if not manifest["files"]:
        return version
    df = read_table(spark, table_dir, version)
    groups = _write_groups(spark, _bucket_bytes(table_dir, manifest["files"]))
    if zorder_cols:
        from ..sources.maintenance import zorder_value

        rng = df.agg(
            *[F.min(c).alias(f"lo_{c}") for c in zorder_cols],
            *[F.max(c).alias(f"hi_{c}") for c in zorder_cols],
        ).collect()[0]  # bounded: one row
        z = zorder_value(
            zorder_cols,
            [rng[f"lo_{c}"] for c in zorder_cols],
            [rng[f"hi_{c}"] for c in zorder_cols],
        )
        df = (
            _by_group(df.withColumn("_z", z), groups)
            .sortWithinPartitions("_g", "_z")
            .drop("_z")
        )
    elif sort_cols:
        df = _by_group(df, groups).sortWithinPartitions("_g", *sort_cols)
    else:
        df = _by_group(df, groups)
    entries = _write_txn_files(
        df, table_dir, _txn_rel(version + 1), groups,
        stats_cols=manifest.get("stats_cols"),
        max_records_per_file=max_records_per_file,
    )
    new_manifest = dict(
        manifest, version=version + 1, op="compact", epoch=None, eff_epoch=None,
        app_id=None, files=entries,
    )
    _commit(table_dir, version + 1, new_manifest)
    return version + 1


def clone(
    src_dir: str,
    dst_dir: str,
    version: int | None = None,
    mode: str = "shallow",
) -> int:
    """Delta's CREATE TABLE ... CLONE: materialize a pinned snapshot
    of the source as an INDEPENDENT table at ``dst_dir`` (its version
    0) — the dev/test-copy and branch-for-experiment primitive of a
    lakehouse table. ``mode``:

    - "shallow": hard-link every referenced data + DV file —
      O(metadata), zero bytes copied (same filesystem). Because data
      files are immutable (every transaction writes a fresh txn dir)
      and a hard link keeps the bytes alive independently of the
      source's directory entry, the clone is FULLY isolated: the
      source's vacuum/compaction can never orphan it — stronger than
      Delta's path-referencing shallow clone at the same cost.
    - "deep": byte copies (for crossing filesystems).

    DV sidecars travel with their files, so merge-on-read state is
    preserved bit-for-bit. History does NOT carry over (the clone
    starts at v0, as in Delta); the exactly-once epoch LEDGER does —
    a producer replaying an already-applied epoch into the clone is
    deduped exactly as it would be on the source. The clone manifest
    records its lineage under ``source``."""
    import shutil

    if mode not in ("shallow", "deep"):
        raise ValueError(f"mode must be 'shallow' or 'deep', got {mode!r}")
    snap = snapshot(src_dir, version)
    if snap is None:
        raise ValueError(f"clone source {src_dir} has no committed version")
    if latest_version(dst_dir) is not None:
        raise ValueError(f"clone destination {dst_dir} already holds a table")
    src_v, man = snap

    def _atomic_copy(sp: str, dp: str) -> None:
        # deep copies publish atomically (copy to a temp name in the
        # same dir, then os.replace): a crash mid-copy leaves only a
        # .tmp orphan, never a truncated file at the final name — so
        # bring_tree's skip-if-exists resume can trust that an
        # existing destination file is complete. Shallow mode needs
        # none of this: os.link is atomic by itself. (r7 ADVICE, low)
        tmp = dp + ".clonetmp"
        shutil.copy2(sp, tmp)
        os.replace(tmp, dp)

    bring = os.link if mode == "shallow" else _atomic_copy

    def bring_tree(rel: str) -> None:
        srcp = os.path.join(_data_dir(src_dir), rel)
        dstp = os.path.join(_data_dir(dst_dir), rel)
        if os.path.isdir(srcp):  # DV sidecar dirs
            for root, _dirs, files in os.walk(srcp):
                for fname in files:
                    sp = os.path.join(root, fname)
                    rp = os.path.relpath(sp, _data_dir(src_dir))
                    dp = os.path.join(_data_dir(dst_dir), rp)
                    if not os.path.exists(dp):
                        os.makedirs(os.path.dirname(dp), exist_ok=True)
                        bring(sp, dp)
        elif not os.path.exists(dstp):
            os.makedirs(os.path.dirname(dstp), exist_ok=True)
            bring(srcp, dstp)

    for f in man["files"]:
        bring_tree(f["path"])
        if f.get("dv"):
            bring_tree(f["dv"])
    new_man = dict(
        man,
        version=0,
        op="clone",
        source={"table": os.path.abspath(src_dir), "version": src_v, "mode": mode},
    )
    _commit(dst_dir, 0, new_man)
    return 0


def restore(table_dir: str, version: int) -> int:
    """Delta's RESTORE TABLE TO VERSION: commit a NEW version whose
    file list (and schema, stats columns) equals an earlier commit's —
    an O(metadata) rollback, since data files are referenced, never
    copied. History is preserved: the bad versions stay readable until
    vacuum, and the restore itself is one more commit.

    What does NOT rewind: the exactly-once epoch ledger and max_epoch
    carry the CURRENT values forward, so replayed epochs stay no-ops
    after a restore and a post-restore batch upsert still outranks
    every restored row's _epoch in the LWW merge. The target version's
    files must still exist — restoring past vacuum's retained tail
    fails loudly here instead of producing a half-readable table."""
    latest = latest_version(table_dir)
    if latest is None:
        raise ValueError(f"restore on empty table {table_dir}")
    target = read_manifest(table_dir, version)  # FileNotFoundError if vacuumed
    current = read_manifest(table_dir, latest)
    missing = [
        f["path"] for f in target["files"]
        if not os.path.exists(os.path.join(_data_dir(table_dir), f["path"]))
    ]
    # DV sidecars are vacuumed independently of their data files (a
    # later commit may drop the DV while keeping the file): a target
    # entry whose sidecar dir is gone would restore fine and then fail
    # at read time, breaking the fail-loudly-here contract above.
    missing += [
        f["dv"] for f in target["files"]
        if f.get("dv") and not os.path.isdir(os.path.join(_data_dir(table_dir), f["dv"]))
    ]
    if missing:
        raise ValueError(
            f"cannot restore to v{version}: {len(missing)} data/DV file(s) were "
            f"vacuumed (first: {missing[0]}); only versions inside the vacuum "
            "retention tail are restorable"
        )
    for _ in range(20):
        # the ledger and epoch ceiling must be re-read per attempt: a
        # competitor that wins the race may have recorded new epochs,
        # and restoring a stale ledger would reopen them to replays
        manifest = dict(
            target,
            version=latest + 1,
            op="restore",
            epoch=None,
            eff_epoch=None,
            app_id=None,
            restored_from=int(version),
            epochs=_ledger(current),
            max_epoch=_next_epoch(current) - 1,
        )
        try:
            _commit(table_dir, latest + 1, manifest)
            return latest + 1
        except CommitConflict:
            latest = latest_version(table_dir)
            current = read_manifest(table_dir, latest)
    raise CommitConflict("gave up restoring after 20 commit conflicts")


def vacuum(
    table_dir: str, keep_versions: int = 2, retention_seconds: float = 24 * 3600.0
) -> list[str]:
    """Delete data files no manifest in the retained tail references —
    orphans from crashed/conflicted transactions and buckets rewritten
    since. Every unreferenced file is swept only once older than
    ``retention_seconds`` (Delta's vacuum-retention rule): a fresh
    unreferenced file may belong to an in-flight writer that hasn't
    committed yet — including one whose target version a competitor
    just took, which is about to hit CommitConflict and retry — and
    the filesystem can't tell those from crash orphans, so age is the
    only safe discriminator. Any live writer finishes well inside the
    window. Returns the deleted paths. Also drops manifests older
    than the retained tail — under the SAME retention_seconds age
    gate, so a concurrent time-travel reader (between snapshot() and
    read_manifest) or a lagging txcdf consumer whose checkpointed
    version falls in the tail never hits FileNotFoundError mid-query
    — which bounds time travel (and the change-data feed, which reads
    version-1's manifest) to ``keep_versions`` commits. The default
    keep_versions=2 keeps CDF for the latest commit working after a
    vacuum (it needs the predecessor manifest)."""
    import time
    versions = list_versions(table_dir)
    if not versions:
        return []
    retained = versions[-max(1, keep_versions):]
    referenced = set()
    dv_dirs: set[str] = set()  # referenced deletion-vector sidecar dirs
    for v in retained:
        for f in read_manifest(table_dir, v)["files"]:
            referenced.add(f["path"])
            if f.get("dv"):
                dv_dirs.add(f["dv"].rstrip("/") + "/")
    deleted: list[str] = []
    data = _data_dir(table_dir)
    if os.path.isdir(data):
        now = time.time()
        for txn in sorted(os.listdir(data)):
            if not txn.startswith("txn-"):
                continue
            txn_abs = os.path.join(data, txn)
            for root, _dirs, names in os.walk(txn_abs):
                for name in names:
                    full = os.path.join(root, name)
                    rel = os.path.relpath(full, data)
                    if not name.endswith(".parquet") or rel in referenced:
                        continue
                    if any(rel.startswith(d) for d in dv_dirs):
                        continue  # live deletion-vector sidecar
                    if now - os.stat(full).st_mtime < retention_seconds:
                        continue  # could be a live writer's staging
                    os.remove(full)
                    deleted.append(rel)
            # prune now-empty bucket dirs / txn dirs
            for root, dirs, names in list(os.walk(txn_abs, topdown=False)):
                if not dirs and not names:
                    os.rmdir(root)
    now = time.time()
    for v in versions[: -max(1, keep_versions)]:
        mpath = _manifest_path(table_dir, v)
        if now - os.stat(mpath).st_mtime < retention_seconds:
            continue  # an in-flight reader may still resolve this version
        os.remove(mpath)
    return deleted


def upsert_tx(
    out_dir: str,
    key_cols: list[str],
    n_buckets: int = 64,
    order_col: str | None = None,
    stats_cols: list[str] | None = None,
    app_id: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch factory: the engine's upsert sink, atomic and
    exactly-once. Last writer wins per key, like the reference's
    putItem (SparkDynamoDBConsumer.java:264); an epoch rewrites only
    the files that may hold the buckets its keys hash into, and
    readers never see a half-committed epoch. ``stats_cols`` records
    per-file min/max for data skipping at read time.

    Schema evolution is additive-only: a batch that adds columns
    rolls the table forward (older rows read back NULL for them — the
    restart that turns on ``PipelineConfig.with_ttl``), while a batch
    missing a column the table already has raises ``ValueError``
    instead of padding every new row with NULLs. The check reads the
    latest manifest's schema on the driver; it runs no Spark job.

    ``app_id`` scopes the replay ledger to this (query, checkpoint)
    pair; pass a fresh value when restarting a query from a FRESH
    checkpoint (its epoch ids restart at 0 and would otherwise be
    swallowed as replays of the previous run's epochs)."""

    def write(batch: DataFrame, epoch_id: int) -> None:
        snap = snapshot(out_dir)
        if snap is not None and snap[1].get("schema") is not None:
            have = {f["name"] for f in json.loads(snap[1]["schema"])["fields"]}
            dropped = have - set(batch.columns) - {"_epoch", "kb"}
            if dropped:
                raise ValueError(
                    f"upsert sink at {out_dir}: incoming schema is missing "
                    f"existing column(s) {sorted(dropped)} — only additive "
                    "schema evolution is supported; if the column was "
                    "intentionally removed, migrate the table explicitly"
                )
        upsert(
            batch.sparkSession,
            out_dir,
            batch,
            key_cols,
            n_buckets=n_buckets,
            order_col=order_col,
            epoch_id=int(epoch_id),
            stats_cols=stats_cols,
            merge_schema=True,
            app_id=app_id,
        )

    return write
