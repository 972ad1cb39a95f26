"""Tests of the benchmark's own helpers on synthetic inputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from stats import (
    Tally,
    commit_times,
    file_batches,
    file_latencies,
    geomean,
    percentile,
    samples_beyond,
    supported,
)


# -- the percentile rule ---------------------------------------------------------


def test_percentile_interpolates_between_closest_ranks():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile([7.0], 95) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    ("n", "q", "beyond", "ok"),
    [
        (100, 90, 10, True),
        (92, 90, 10, True),
        (91, 90, 9, False),
        (200, 95, 10, True),
        (182, 95, 10, True),
        (181, 95, 9, False),
        (21, 50, 10, True),
        (20, 50, 10, True),
        (19, 50, 9, False),
    ],
)
def test_tail_percentile_needs_ten_samples_beyond(n, q, beyond, ok):
    assert samples_beyond(n, q) == beyond
    assert supported(n, q) is ok
    xs = list(range(n))
    assert sum(1 for x in xs if x > percentile(xs, q)) == beyond


def test_geomean():
    assert geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


# -- file -> batch -> commit latency join -----------------------------------


def _checkpoint(root, batches: dict[int, list[str]], committed: dict[int, float], compact_upto=None):
    """A file-stream checkpoint: ``sources/0`` entries for each batch's
    files, and a ``commits/<id>`` file stamped at each commit time.
    Batches up to ``compact_upto`` are folded into one compact file."""
    src = root / "sources" / "0"
    src.mkdir(parents=True)
    commits = root / "commits"
    commits.mkdir()

    def entries(b):
        return [json.dumps({"path": f"file:///land/{f}", "timestamp": 0, "batchId": b}) for f in batches[b]]

    if compact_upto is not None:
        lines = [e for b in sorted(batches) if b <= compact_upto for e in entries(b)]
        (src / f"{compact_upto}.compact").write_text("v1\n" + "\n".join(lines) + "\n")
    for b in batches:
        if compact_upto is None or b > compact_upto:
            (src / str(b)).write_text("v1\n" + "\n".join(entries(b)) + "\n")
    for b, t in committed.items():
        p = commits / str(b)
        p.write_text("v1\n{}\n")
        os.utime(p, (t, t))
    (commits / f".{max(committed)}.crc").write_text("")  # checksum files are skipped
    return str(src), str(commits)


def test_latency_is_creation_to_commit_in_the_slowest_query(tmp_path):
    created = {"a": 100.0, "b": 100.25, "c": 100.5, "d": 100.75}
    # fast query: a in batch 0, b+c in batch 1, d in batch 2 (never committed)
    fast = _checkpoint(tmp_path / "fast", {0: ["a"], 1: ["b", "c"], 2: ["d"]}, {0: 101.0, 1: 103.0})
    # slow query: compacted log, a+b in batch 0, c+d in batch 1
    slow = _checkpoint(
        tmp_path / "slow", {0: ["a", "b"], 1: ["c", "d"]}, {0: 102.0, 1: 106.0}, compact_upto=0
    )
    queries = [(file_batches(s), commit_times(c)) for s, c in (fast, slow)]
    assert queries[1][0] == {"a": 0, "b": 0, "c": 1, "d": 1}
    assert queries[0][1] == {0: pytest.approx(101.0), 1: pytest.approx(103.0)}
    lat = file_latencies(created, queries)
    assert lat == {
        "a": pytest.approx(2.0),  # slow batch 0 at 102 beats fast's 101
        "b": pytest.approx(2.75),  # max(fast 103, slow 102) - 100.25
        "c": pytest.approx(5.5),  # slow batch 1 at 106
    }
    # d's batch in the fast query never committed: it is left out, not guessed
    assert "d" not in lat


def test_latency_skips_files_a_query_never_saw(tmp_path):
    only = _checkpoint(tmp_path / "q", {0: ["a"]}, {0: 5.0})
    assert file_latencies({"a": 1.0, "zz": 1.0}, [(file_batches(only[0]), commit_times(only[1]))]) == {
        "a": pytest.approx(4.0)
    }


# -- failed_frac accounting ---------------------------------------------------


def test_failed_frac_counts_each_operation_once():
    t = Tally()
    t.attempt(10)
    t.fail(3, "raised")
    t.fail(3, "and was also wrong")  # one operation, counted once
    t.fail(("face", 1), "values differ")
    assert t.failed == 2
    assert t.failed_frac == pytest.approx(0.2)
    assert len(t.reasons) == 2


def test_failed_frac_needs_an_attempt():
    with pytest.raises(ValueError):
        Tally().failed_frac


def test_failed_frac_is_zero_when_all_succeed():
    t = Tally()
    t.attempt(3)
    assert t.failed == 0 and t.failed_frac == 0.0
