"""Seeded generator for the benchmark's input tables.

Writes the engine's ten tables (TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``) as one parquet file each, with the
same columns, types, domains and row counts per scale factor as the
engine's reference test data, so every plan runs unchanged. The same
``(seed, sf)`` always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EVENT_USERS = 1500
# rows per unit of scale factor (sf0.1 = 15k customers, 600k lineitems, ...)
_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000,
    "lineitem": 6_000_000, "events": 1_000_000, "documents": 50_000, "embeddings": 20_000,
}
_VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter big group "
    "hash customer sort order slow line part fast row the agg key query a scan batch".split()
)
# the LLM-data tables never shrink below 500 rows
_MIN_ROWS = {"documents": 500, "embeddings": 500}
_DAY_US = 86_400_000_000


def _days(rng, n, first, last):
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[ms]"), pa.timestamp("ms"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def event_table(rng, first_id: int, ts_us: np.ndarray) -> pa.Table:
    """Rows of the ``events`` schema: ids from ``first_id``, the given
    event times (epoch µs), and seeded users, types, values and props."""
    n = len(ts_us)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts_us.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _region(rng, n):
    return {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}


def _nation(rng, n):
    return {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}


def _customer(rng, n):
    c = n["customer"]
    return {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c, dtype=np.int32)),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, c)
        ],
    }


def _supplier(rng, n):
    s = n["supplier"]
    return {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s, dtype=np.int32)),
        "s_acctbal": _money(rng, s, -999.99, 9999.99),
    }


def _part(rng, n):
    p = n["part"]
    adj = np.array(["blue", "old", "small", "new", "red", "large", "hot", "cold"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    return {
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, p)], " "), noun[rng.integers(0, 8, p)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
            rng.integers(0, 6, p)
        ],
        "p_size": pa.array(rng.integers(1, 51, p, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
    }


def _orders(rng, n):
    o = n["orders"]
    return {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], o, dtype=np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, o, 1000.0, 500000.0),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, o)
        ],
    }


def _lineitem(rng, n):
    li = n["lineitem"]
    return {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n["part"], li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
    }


def _events(rng, n):
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(30 * _DAY_US / e, e).astype(np.int64)
    return event_table(rng, 0, start + np.cumsum(gaps))


def _documents(rng, n):
    d = n["documents"]
    text = [" ".join(_VOCAB[rng.integers(0, len(_VOCAB), k)]) for k in rng.integers(10, 101, d)]
    # 5% planted near-duplicates: an earlier document's text plus one token
    for i in np.flatnonzero(rng.random(d) < 0.05):
        if i > 0:
            text[i] = text[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": pa.array(np.arange(d, dtype=np.int64)),
        "text": text,
        "lang": np.array(["en", "es", "fr", "zh", "de"])[rng.choice(5, d, p=[0.41, 0.15, 0.15, 0.15, 0.14])],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    }


def _embeddings(rng, n):
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, m, dtype=np.int32)),
    }


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer, "supplier": _supplier,
    "part": _part, "orders": _orders, "lineitem": _lineitem, "events": _events,
    "documents": _documents, "embeddings": _embeddings,
}


def generate(out_dir: str, seed: int, sf: float) -> str:
    """Write every table for ``(seed, sf)`` under ``out_dir``; returns it.
    Each table draws from its own child stream of ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(_MIN_ROWS.get(k, 1), int(round(v * sf))) for k, v in _ROWS.items()}
    streams = np.random.SeedSequence(seed).spawn(len(ALL_TABLES))
    for name, stream in zip(ALL_TABLES, streams):
        table = _BUILDERS[name](np.random.default_rng(stream), n)
        if not isinstance(table, pa.Table):
            table = pa.table(table)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
