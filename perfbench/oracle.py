"""Result comparison: Spark rows against the engine's DuckDB twins
(``plans.all_oracles``) and stable digests of result sets."""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

from datagen import ALL_TABLES


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # tolerant to last-digit differences in float aggregation order
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def canonical(rows, columns) -> list[str]:
    """Order-insensitive canonical form of a result: one string per row,
    columns in name order, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(_cell(r[i]) for i in order) for r in rows)


def digest(rows, columns) -> str:
    h = hashlib.sha256()
    for line in canonical(rows, columns):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB over the same parquet tables the engine reads."""

    def __init__(self, sf_dir: str) -> None:
        from real_time_event_streaming_pipeline_spark import plans

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in ALL_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.sql = plans.all_oracles(sf_dir=sf_dir)

    def check(self, name: str, rows, columns) -> str | None:
        """None when Spark's result equals the DuckDB twin's, else why not."""
        if name not in self.sql:
            return "no oracle"
        res = self.con.execute(self.sql[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(columns) != sorted(ocols):
            return f"columns {sorted(columns)} != {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != {len(orows)}"
        if canonical(rows, columns) != canonical(orows, ocols):
            return "values differ"
        return None

    def close(self) -> None:
        self.con.close()
