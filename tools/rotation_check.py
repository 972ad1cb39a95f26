"""Rotation-staleness invariant for the external driver record.

The external correctness gate checks only the first WINDOW registry
entries per round. The registry is in deadline order over the recorded
CORRECTNESS_r*.json verdicts, rows touched since their latest verdict
first (plans.rotation_order), so the window is generated, not written
by hand. The invariant is that no registered query's latest external
verdict is ever older than MAX_STALENESS rounds. This tool replays the
history, assumes the generated window lands in the upcoming round, and
fails when any query would still violate the invariant or some later
round is already over-committed.

    python tools/rotation_check.py            # exit 1 on violation
    python tools/rotation_check.py --verbose  # per-query ages + the window

Wrapped by tests/test_rotation.py so `pytest` enforces it.
"""

from __future__ import annotations

import os
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)

from real_time_event_streaming_pipeline_spark.plans import (  # noqa: E402
    TOUCHED_SINCE_VERDICT,
    WINDOW,
    all_queries,
    load_history,
    rotation_order,
)

MAX_STALENESS = 3  # a verdict may be at most this many rounds old


def _violations(
    registry: list[str],
    window: set[str],
    latest: dict[str, int],
    upcoming: int,
    verbose: bool = False,
) -> list[str]:
    """Staleness violations assuming `window` lands in round `upcoming`,
    plus the full feasibility lookahead (Hall's condition): for every
    horizon h, the queries whose verification deadline falls within
    the next h rounds must fit h windows, or some future round is
    already over-committed no matter how its rotation is arranged (the
    r7 lesson: the r3/r4-era backlog plus a 149-query registry left r8
    nearly zero slack until five rows were retired)."""
    violations = []
    deadlines: list[int] = []
    for q in registry:
        eff = upcoming if q in window else latest.get(q)
        if eff is None:
            violations.append(f"{q}: never in any driver window and not in the current one")
            continue
        age = upcoming - eff
        if verbose:
            print(f"{q}: latest r{eff} (age {age}{' — in current window' if q in window else ''})")
        if age > MAX_STALENESS:
            violations.append(
                f"{q}: latest driver verdict r{latest.get(q)}, age {age} > {MAX_STALENESS} "
                "after the upcoming round — rotate it into the priority window"
            )
        # feasibility lookahead input: the last round q can wait for is
        # eff + MAX_STALENESS + 1 (being in THAT round's window cures
        # the would-be violation at its pre-round check)
        deadlines.append(eff + MAX_STALENESS + 1)
    # Hall's condition over the rolling windows
    for h in range(1, MAX_STALENESS + 2):
        due = sum(1 for d in deadlines if d <= upcoming + h)
        if due > h * WINDOW:
            violations.append(
                f"lookahead: {due} queries must be verified within the next "
                f"{h} round(s) but only {h * WINDOW} window slots exist — "
                "retire/merge rows or rotate more of them this round"
            )
        elif verbose:
            print(f"lookahead h={h}: {due} due of {h * WINDOW} slots")
    return violations


def check(repo_dir: str = REPO_DIR, verbose: bool = False) -> list[str]:
    """Violations with the window generated from `repo_dir`'s history
    presumed to land in the upcoming round. `verbose` also prints that
    window with each row's age before the round."""
    latest, upcoming = load_history(repo_dir)
    registry = rotation_order(all_queries(), latest)
    violations = _violations(registry, set(registry[:WINDOW]), latest, upcoming, verbose=verbose)
    if verbose:
        print(f"generated window for r{upcoming}:")
        for i, q in enumerate(registry[:WINDOW], 1):
            seen = "never verified"
            if q in latest:
                seen = f"latest r{latest[q]}, age {upcoming - latest[q]}"
            touched = ", touched since verdict" if q in TOUCHED_SINCE_VERDICT else ""
            print(f"  {i:2d}. {q} ({seen}{touched})")
    return violations


def main() -> int:
    violations = check(verbose="--verbose" in sys.argv)
    if violations:
        print(f"ROTATION CHECK FAILED ({len(violations)} violations):")
        for v in violations:
            print("  " + v)
        return 1
    _, upcoming = load_history(REPO_DIR)
    print(
        f"rotation OK: {len(all_queries())} registered queries, "
        f"window {WINDOW}, upcoming round r{upcoming}, max staleness {MAX_STALENESS}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
