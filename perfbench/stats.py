"""Pure helpers for the benchmark's numbers: percentiles with their
sample rule, geomeans, failure accounting, and the streaming
file -> micro-batch -> commit latency join. No Spark imports, so the
helpers are testable on synthetic inputs (see test_stats.py)."""

from __future__ import annotations

import json
import math
import os
import statistics

# a tail percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """The q-th percentile (0 < q < 100) by linear interpolation between
    closest ranks (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples lie strictly above the q-th percentile's rank."""
    return n - 1 - int(math.floor((n - 1) * q / 100.0))


def supported(n: int, q: float) -> bool:
    """True when the q-th percentile of n samples has MIN_BEYOND samples beyond it."""
    return samples_beyond(n, q) >= MIN_BEYOND


def geomean(values) -> float:
    vals = list(values)
    if not vals or any(v <= 0 for v in vals):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def median(values) -> float:
    return statistics.median(list(values))


class Tally:
    """Operations attempted and failed. An operation fails when it
    raises or when its output is wrong; either way it is counted once."""

    def __init__(self) -> None:
        self.attempted = 0
        self._failed: set = set()
        self.reasons: list[str] = []

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, op_id, reason: str) -> None:
        if op_id not in self._failed:
            self._failed.add(op_id)
            self.reasons.append(f"{op_id}: {reason}")

    @property
    def failed(self) -> int:
        return len(self._failed)

    @property
    def failed_frac(self) -> float:
        if self.attempted <= 0:
            raise ValueError("no operations attempted")
        return min(self.failed, self.attempted) / self.attempted


# -- streaming: file -> batch -> commit ---------------------------------------


def file_batches(source_log_dir: str) -> dict[str, int]:
    """{file path: batch id} from a file-stream checkpoint's
    ``sources/0`` log. Both plain batch files (``<id>``) and compacted
    ones (``<id>.compact``) hold one JSON entry per line after a
    version header; every entry carries its own ``batchId``."""
    out: dict[str, int] = {}
    for name in os.listdir(source_log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(source_log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                out[_basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_times(commits_dir: str) -> dict[int, float]:
    """{batch id: commit time (epoch s)} from a checkpoint's ``commits``
    dir: the commit file for a batch is written once its sink is done."""
    out: dict[int, float] = {}
    for name in os.listdir(commits_dir):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(commits_dir, name)).st_mtime_ns / 1e9
    return out


def _basename(path: str) -> str:
    return path.rstrip("/").rsplit("/", 1)[-1]


def file_latencies(created: dict[str, float], queries: list[tuple[dict, dict]]) -> dict[str, float]:
    """Per landing file: seconds from its scheduled creation time to the
    commit of the batch holding it in the slowest query.

    ``created`` maps file name -> creation time (epoch s); ``queries``
    holds one ``(file_batches, commit_times)`` pair per query. A file
    not yet committed by every query is left out."""
    out: dict[str, float] = {}
    for fname, t0 in created.items():
        done = []
        for batches, commits in queries:
            b = batches.get(fname)
            if b is None or b not in commits:
                break
            done.append(commits[b])
        else:
            out[fname] = max(done) - t0
    return out
