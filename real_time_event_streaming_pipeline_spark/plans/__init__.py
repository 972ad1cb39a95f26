"""Named query plans. Each submodule exposes QUERIES (name -> callable
(spark, sf_dir) -> DataFrame) and ORACLE (name -> DuckDB SQL twin).
``all_queries()`` / ``all_oracles()`` merge them for __spark_entry__.

The external correctness gate checks only the first ``WINDOW``
registry entries against the DuckDB oracle each round, so the registry
is in deadline order over the recorded ``CORRECTNESS_r*.json``
verdicts: rows touched since their latest verdict first, then oldest
latest verdict first (never verified counts as round 0), ties in
module order."""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

WINDOW = 50  # rows the external correctness gate checks per round

# Rows whose plan code changed after their latest verdict: they
# sort first so the next round's window re-verifies them. Drop a name
# once a CORRECTNESS_r*.json newer than its change lists it.
TOUCHED_SINCE_VERDICT = (
    "cs_windowed_agg",  # closed-domain severity counts + domain guard
    "cs_summary_city",  # rolls up windowed_agg
    "cs_aggregations_filtered",  # selects windowed_agg's severities
    "cs_tx_dml_lifecycle",  # tx_table: one shuffle per commit, files packed by size
    "cs_upsert_lww",  # tx_table: one shuffle per commit, files packed by size
    "llm_corpus_build",  # nd_docs checkpoint paired with its count
)

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_history(repo_dir: str = _REPO_DIR) -> tuple[dict[str, int], int]:
    """{query: latest round with an external verdict}, and the upcoming
    round number (max recorded round + 1)."""
    latest: dict[str, int] = {}
    max_round = 0
    for path in sorted(glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        max_round = max(max_round, rnd)
        with open(path) as fh:
            for q in json.load(fh):
                latest[q] = max(latest.get(q, 0), rnd)
    return latest, max_round + 1


def rotation_order(names: Iterable[str], latest: dict[str, int]) -> list[str]:
    """``names`` in deadline order (the sort is stable, so ties keep
    the order given)."""
    return sorted(names, key=lambda q: 0 if q in TOUCHED_SINCE_VERDICT else latest.get(q, 0))


def __getattr__(name: str):
    # computed on access: it reads the verdict history, import must not
    if name == "PRIORITY_WINDOW":
        return tuple(all_queries())[:WINDOW]
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def _modules():
    # hard imports: a broken module must fail the registry loudly, not
    # silently shrink the registry to whatever still imports
    from . import citystream, curation, filters, llmdata, relational, scalar, tokenize
    from . import tpch_extra, windowing

    return [
        llmdata, tokenize, curation, filters, windowing, scalar, citystream, relational, tpch_extra
    ]


def _reorder(merged: dict) -> dict:
    return {k: merged[k] for k in rotation_order(merged, load_history()[0])}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _modules():
        merged.update(m.QUERIES)
    return _reorder(merged)


# Rows whose oracle generator degraded to rows-only in the LAST
# all_oracles() call, with the reason (tools/verify_local.py prints them).
DEGRADED_ORACLES: dict[str, str] = {}


def all_oracles(sf_dir: str | None = None) -> dict[str, str]:
    """ORACLE values are SQL strings, or callables (sf_dir) -> SQL for
    twins that inline literals trained deterministically from the data
    (IVF/PQ centroids and codebooks). Generators read ``sf_dir``; the
    SPARK_GRAFT_ORACLE_SF_DIR env var is the fallback for callers of
    the fixed entry point (__spark_entry__.oracle_sql, sf0.01 by
    default). Only missing-data errors (a corpus lacking a generator's
    table) degrade a row to rows-only, recorded in ``DEGRADED_ORACLES``;
    any other generator failure re-raises, and a ``sf_dir`` that is not
    a directory raises NotADirectoryError up front. Generators run on
    every call, unmemoized, so an oracle takes the route its query
    takes on the corpus as it is now."""
    import sys

    import duckdb

    if sf_dir is None:
        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    if not os.path.isdir(sf_dir):
        raise NotADirectoryError(
            f"all_oracles: sf_dir {sf_dir!r} is not a directory — "
            "trained-literal oracle generators only degrade to rows-only "
            "for an existing corpus missing a specific table file"
        )
    merged: dict[str, str] = {}
    for m in _modules():
        merged.update(m.ORACLE)
    out: dict[str, str] = {}
    DEGRADED_ORACLES.clear()
    for k, v in merged.items():
        if callable(v):
            try:
                out[k] = v(sf_dir)
            except (FileNotFoundError, duckdb.IOException) as e:
                DEGRADED_ORACLES[k] = f"{type(e).__name__}: {e}"
                print(
                    f"oracle generator for {k} found no data at {sf_dir} "
                    f"({type(e).__name__}: {e}) — row degrades to rows-only",
                    file=sys.stderr,
                )
        else:
            out[k] = v
    return _reorder(out)
