"""Streaming sinks: the row-at-a-time putItem writer and the
append sink.

The reference writes one DynamoDB putItem per row from a ForeachWriter
(consumer/.../SparkDynamoDBConsumer.java:202-283) — a new client per
partition per epoch, no batching (SURVEY.md §4.1 calls this an
anti-optimization). The engine's upsert sink is foreachBatch writing
columnar files with last-writer-wins semantics per key — identical
observable semantics (putItem = upsert by PK), bulk I/O. It has one
implementation, `streaming/tx_table.upsert_tx`: hash-bucketed
copy-on-write behind a manifest-committed log. An epoch rewrites only
the files that may hold the buckets its keys hash into, commits
atomically across buckets, applies each epoch exactly once, and gives
readers snapshot isolation, time travel and vacuum — the Delta/Iceberg
MERGE INTO shape without the external jars."""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame


class RowUpsertWriter:
    """Row-at-a-time ForeachWriter with the reference's exact sink
    lifecycle (SparkDynamoDBConsumer.java:202-283): open(partition,
    epoch) acquires a connection, process(row) issues one keyed
    upsert, close(error) releases it. The "store" is a JSONL journal
    per (partition, epoch) — one line per putItem, last writer per key
    wins at read time (`read_row_upserts`), which is DynamoDB's
    server-side semantics.

    Parity completeness only: SURVEY.md §4.1 documents per-row writes
    as the reference's anti-optimization, and §2.1 S3 endorses the
    foreachBatch bulk upsert (`tx_table.upsert_tx`) as the replacement.
    Atomicity note: the journal file is written to a temp name and
    renamed into place in close() — a crashed task leaves only temp
    files, which readers skip, and the task retry (same partition,
    same epoch) overwrites them: idempotent under replay.
    """

    def __init__(self, out_dir: str, key_cols: list[str]):
        self.out_dir = out_dir
        self.key_cols = key_cols

    def open(self, partition_id: int, epoch_id: int) -> bool:  # noqa: A003
        import os

        os.makedirs(self.out_dir, exist_ok=True)
        self._final = os.path.join(
            self.out_dir, f"part-{partition_id:05d}-epoch-{epoch_id:010d}.jsonl"
        )
        self._tmp = self._final + ".inprogress"
        self._fh = open(self._tmp, "w")
        return True  # process every partition (a real store would health-check here)

    def process(self, row) -> None:
        import json

        d = row.asDict(recursive=True)
        self._fh.write(json.dumps({"key": [d[k] for k in self.key_cols], "row": d}, default=str) + "\n")

    def close(self, error) -> None:
        import os

        self._fh.close()
        if error is None:
            os.replace(self._tmp, self._final)
        else:
            os.remove(self._tmp)


def read_row_upserts(out_dir: str) -> dict[tuple, dict]:
    """Materialize the journal: last write per key wins, in (epoch,
    partition, line) order — the reader half of the putItem contract."""
    import json
    import os

    state: dict[tuple, dict] = {}
    # file names sort by partition then epoch; key order must be epoch-major
    names = [n for n in os.listdir(out_dir) if n.endswith(".jsonl")]
    for name in sorted(names, key=lambda n: (n.split("-epoch-")[1], n)):
        with open(os.path.join(out_dir, name)) as fh:
            for line in fh:
                rec = json.loads(line)
                state[tuple(rec["key"])] = rec["row"]
    return state


def append_parquet(out_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch append sink (raw events / alerts, output mode
    append — reference Q1/Q3).

    Replay-idempotent, like every other sink here: foreachBatch is
    at-least-once, so a crash between the write and the checkpoint
    commit replays the epoch — a bare mode("append") would then
    double every row. Each epoch stages through a dot-prefixed dir
    (invisible to parquet readers) and lands as epoch-tagged files;
    a replay first removes its own (possibly partial) files. At
    cluster scale the same discipline runs through a manifest commit
    (the tx table) — this is the plain-directory analogue."""

    def write(batch: DataFrame, epoch_id: int) -> None:
        import glob
        import shutil

        os.makedirs(out_dir, exist_ok=True)
        tag = f"ep{int(epoch_id):010d}"
        for f in glob.glob(os.path.join(out_dir, f"{tag}-*.parquet")):
            os.remove(f)
        tmp = os.path.join(out_dir, f"._{tag}_staging")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        batch.write.mode("overwrite").parquet(tmp)
        for i, src in enumerate(sorted(glob.glob(os.path.join(tmp, "*.parquet")))):
            os.rename(src, os.path.join(out_dir, f"{tag}-{i:05d}.parquet"))
        shutil.rmtree(tmp)

    return write
