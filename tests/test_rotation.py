"""The driver-record rotation invariant (VERDICT r4 #2): with a 50-
entry driver window over a 140+-query registry, every registered
query's latest external verdict must stay within MAX_STALENESS
rounds — enforced by tools/rotation_check.py, wrapped here so pytest
fails a bad rotation BEFORE the round is judged. The window is the
registry prefix in deadline order (plans.rotation_order); the pure
cases below drive that order and the check over synthetic histories."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def test_rotation_invariant_holds():
    import rotation_check

    violations = rotation_check.check(REPO)
    assert not violations, "\n".join(violations)


def test_priority_window_is_the_registry_prefix():
    from real_time_event_streaming_pipeline_spark.plans import (
        PRIORITY_WINDOW,
        TOUCHED_SINCE_VERDICT,
        WINDOW,
        all_oracles,
        all_queries,
    )

    registry = list(all_queries())
    assert list(PRIORITY_WINDOW) == registry[:WINDOW]
    # a dangling touched name would silently do nothing
    missing = [q for q in TOUCHED_SINCE_VERDICT if q not in registry]
    assert not missing, missing
    # oracles stay aligned with queries
    assert set(all_oracles()) <= set(registry)


def _synthetic(n_rows, latest_round):
    names = [f"q{i:03d}" for i in range(n_rows)]
    return names, {q: latest_round for q in names}


def test_window_holds_every_row_at_its_deadline():
    import rotation_check
    from real_time_event_streaming_pipeline_spark.plans import WINDOW, rotation_order

    # upcoming r5: the 40 rows last verified in r1 reach age 4 unless
    # this window takes them; they sit late in module order on purpose
    names, latest = _synthetic(140, 4)
    overdue = names[-40:]
    latest.update({q: 3 for q in names[:60]})
    latest.update({q: 1 for q in overdue})
    order = rotation_order(names, latest)
    assert set(overdue) <= set(order[:WINDOW])
    assert not rotation_check._violations(order, set(order[:WINDOW]), latest, 5)


def test_never_verified_row_is_in_the_window():
    from real_time_event_streaming_pipeline_spark.plans import WINDOW, rotation_order

    names, latest = _synthetic(140, 4)
    del latest[names[-1]]
    assert names[-1] in rotation_order(names, latest)[:WINDOW]


def test_touched_rows_are_in_the_window():
    from real_time_event_streaming_pipeline_spark.plans import (
        TOUCHED_SINCE_VERDICT,
        WINDOW,
        rotation_order,
    )

    # the touched rows carry the freshest verdicts and come last in
    # module order, so only the touched rule can pull them forward
    names, latest = _synthetic(140, 3)
    names += list(TOUCHED_SINCE_VERDICT)
    latest.update({q: 4 for q in TOUCHED_SINCE_VERDICT})
    assert set(TOUCHED_SINCE_VERDICT) <= set(rotation_order(names, latest)[:WINDOW])


def test_lookahead_flags_more_rows_due_than_one_window():
    import rotation_check
    from real_time_event_streaming_pipeline_spark.plans import WINDOW, rotation_order

    # 101 rows last verified in r2: after a 50-row r5 window, 51 of
    # them are due by r6 — no staleness yet, but r6 is over-committed
    names, latest = _synthetic(2 * WINDOW + 1, 2)
    order = rotation_order(names, latest)
    violations = rotation_check._violations(order, set(order[:WINDOW]), latest, 5)
    assert violations == [
        f"lookahead: {WINDOW + 1} queries must be verified within the next 1 round(s) "
        f"but only {WINDOW} window slots exist — retire/merge rows or rotate more of them "
        "this round"
    ]


def test_all_oracles_rejects_bogus_sf_dir():
    """r8 ADVICE: a nonexistent sf_dir (e.g. a flag string passed as
    the dir) must raise, not silently degrade every trained-literal
    row to rows-only."""
    import pytest

    from real_time_event_streaming_pipeline_spark.plans import all_oracles

    with pytest.raises(NotADirectoryError):
        all_oracles(sf_dir="--strict")
