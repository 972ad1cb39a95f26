"""10x synthetic scale soak (VERDICT r4 #5).

The driver testdata tops out at sf0.1 (17 MB) — enough for
correctness, not for a measured scaling slope. This tool synthesizes
a one-off ~sf1 dataset (10x sf0.1 rows, same schemas/domains as
FIXTURES.md §B, seeded, NOT committed — it lands in /tmp), runs the
bench headline plus the dedup/ANN/corpus families at sf0.1 and sf1,
and prints a per-query scaling table: t(sf1)/t(sf0.1) and the implied
exponent log10 of the ratio (1.0 = linear). Paste the table into
SCALING.md; any query scaling clearly worse than linear gets a
tracked task.

    python tools/scale_soak.py --generate      # build /tmp dataset
    python tools/scale_soak.py --run           # measure + print table
    python tools/scale_soak.py --generate --run

Generation is deterministic (fixed numpy seed; content is a function
of row index only) and mirrors the driver domains: bag-of-words
documents with planted exact and near duplicates, unit-norm 64-d
embeddings with planted cos~0.5 near-dup pairs, the TPC-H-ish star
schema, and the events stream at ~1M rows.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
SEED = 42

# row counts: 10x the sf0.1 testdata
N = {
    "region": 5,
    "nation": 25,
    "supplier": 10_000,
    "customer": 150_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()  # the driver corpus's exact 31-term vocabulary (incl. the two
# stopwords 'a'/'the' the gopher gate needs — without them zero docs
# pass the gate and downstream stages see an empty corpus)


def _doc_texts(rng, n: int) -> list:
    """Shared soak document synthesizer — OPEN vocabulary (r12 verdict
    #4): the closed 31-word vocabulary saturated trigram space at sf3+
    (mean df ~270 > the 100 cap), so the ngram face's rare-shingle
    semantics went vacuous — bitwise-green over an EMPTY kept-shingle
    set. Now ~90% of fresh docs hash-suffix half their tokens from a
    pool that SCALES with the corpus (pool = max(31, n // 50)), so
    k-gram space grows with the corpus and the rare-shingle regime
    survives every soak point; the other ~10% (i % 10 == 7) stay on
    the closed vocabulary — synthetic 'boilerplate' (license-header
    analogue) that keeps a real subset for the df-cap to bite on.
    Unsuffixed base words keep the gopher stopwords frequent. Planted
    exact dups (every 17th doc copies i-3) and 8%-flip near dups
    (every 10th copies i-1) are unchanged, so the dedup faces' planted
    structure is intact. Object-dtype word arrays: suffixed tokens are
    longer than the base vocab's fixed <U8 itemsize and a fixed-width
    assignment would silently truncate them."""
    import numpy as np

    vocab = np.array(VOCAB)
    pool = max(31, n // 50)
    texts: list = []
    lengths = rng.integers(10, 101, n)
    cache: dict = {}
    for i in range(n):
        if i % 17 == 3 and i >= 3:
            w = cache[i - 3]                # exact duplicate
        elif i % 10 == 1 and i >= 1:
            w = cache[i - 1].copy()         # near duplicate: ~8% swapped
            flip = rng.random(len(w)) < 0.08
            w[flip] = vocab[rng.integers(0, len(vocab), int(flip.sum()))]
        else:
            w = vocab[rng.integers(0, len(vocab), lengths[i])].astype(object)
            if i % 10 != 7:
                m = rng.random(len(w)) < 0.5
                if m.any():
                    sfx = rng.integers(0, pool, int(m.sum()))
                    w[m] = [f"{a}_{s:x}" for a, s in zip(w[m], sfx)]
        cache[i] = w
        texts.append(" ".join(w))
        if i >= 20:
            cache.pop(i - 20, None)  # bound memory; dups look back <= 3
    return texts

SOAK_QUERIES = [
    # bench headline
    "cs_windowed_agg", "cs_sliding_agg", "cs_cities", "cs_stats",
    "rel_pricing_summary", "rel_shipping_priority", "rel_local_supplier_volume",
    "rel_nation_profit", "rel_top_orders_per_customer", "rel_user_sessions",
    "rel_asof_purchase_view", "llm_text_stats", "llm_dedup_exact",
    "llm_dedup_ngram_jaccard", "llm_contamination", "llm_dedup_minhash_lsh",
    "llm_emb_cosine_topk", "llm_dedup_clusters", "llm_corpus_pipeline",
    # dedup / ANN / corpus families
    "llm_semdedup", "llm_semdedup_survivors",
    "llm_emb_ann_lsh", "llm_emb_ann_ivf", "llm_emb_ann_pq",
    "llm_corpus_build",
]


def _hygiene(spark) -> int:
    """Per-row JVM hygiene for the long shared-session sweeps (r8
    verdict #3: semdedup sf10 read 123.8 s in-harness vs 97.4 s in a
    clean process; BPE encode 67.2 vs 16.8). The leak: every query
    localCheckpoints its diamonds, and in one long session the py4j
    handles to those RDDs die on the Python side but stay strongly
    referenced in the gateway's object map until a PYTHON gc runs —
    the JVM ContextCleaner can't unpersist checkpoint blocks,
    broadcasts, or shuffle files whose RDD objects are still gateway-
    reachable, so storage debris from EARLIER rows squeezes the 16g
    heap under LATER rows (eviction + GC churn, exactly the
    harness-vs-standalone gap). ContextCleaner's weak-ref drain is
    ASYNC and measurably lags even a forced System.gc(), so storage
    blocks are dropped DETERMINISTICALLY instead: every
    still-persistent RDD is debris by construction here — each row
    rebuilds its plan from parquet, and nothing in the engine caches
    DataFrames across invocations — so unpersist them all, then
    python gc → gateway detach → System.gc() so the cleaner can also
    reap broadcasts and shuffle files. Runs OUTSIDE the timed window;
    returns the pinned-RDD count BEFORE the sweep (the leak
    instrumentation)."""
    import gc

    spark.catalog.clearCache()
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    pinned = persistent.size()
    for rdd in list(persistent.values()):
        rdd.unpersist(False)
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return pinned


def _write(table: str, pa_table) -> None:
    import pyarrow.parquet as pq

    os.makedirs(SF1_DIR, exist_ok=True)
    pq.write_table(pa_table, os.path.join(SF1_DIR, f"{table}.parquet"))
    print(f"  {table}: {pa_table.num_rows} rows")


def generate() -> None:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(SEED)
    t0 = time.time()

    # -- dims ---------------------------------------------------------
    _write("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": [f"REGION_{i}" for i in range(5)],
    }))
    _write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    n = N["supplier"]
    _write("supplier", pa.table({
        "s_suppkey": pa.array(range(n)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(0, 10_000, n), 2),
    }))

    n = N["customer"]
    segs = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
    _write("customer", pa.table({
        "c_custkey": pa.array(range(n)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 10_000, n), 2),
        "c_mktsegment": segs[rng.integers(0, len(segs), n)],
    }))

    n = N["part"]
    adjs = np.array(["large", "hot", "small", "cold", "dim", "light", "metal", "red"])
    nouns = np.array(["ring", "bolt", "case", "tube", "disk", "plate", "wire", "rod"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    _write("part", pa.table({
        "p_partkey": pa.array(range(n)),
        "p_name": [f"{a} {b}" for a, b in zip(
            adjs[rng.integers(0, len(adjs), n)], nouns[rng.integers(0, len(nouns), n)]
        )],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": types[rng.integers(0, len(types), n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.uniform(0, 200, n), 2),
    }))

    n = N["orders"]
    day_ms = 86_400_000
    o_date = (np.datetime64("1992-01-01").astype("datetime64[ms]").astype(np.int64)
              + rng.integers(0, 2520, n) * day_ms)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write("orders", pa.table({
        "o_orderkey": pa.array(range(n)),
        "o_custkey": pa.array(rng.integers(0, N["customer"], n)),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, n), 2),
        "o_orderdate": pa.array(o_date, pa.timestamp("ms")),
        "o_orderpriority": prios[rng.integers(0, len(prios), n)],
    }))

    n = N["lineitem"]
    lines_per_order = n // N["orders"]  # 4
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n), 2)
    ship = (np.datetime64("1992-01-01").astype("datetime64[ms]").astype(np.int64)
            + rng.integers(0, 2520, n) * day_ms)
    _write("lineitem", pa.table({
        "l_orderkey": pa.array(np.arange(n) // lines_per_order),
        "l_partkey": pa.array(rng.integers(0, N["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, N["supplier"], n)),
        "l_linenumber": pa.array((np.arange(n) % lines_per_order) + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["R", "N", "A"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship, pa.timestamp("ms")),
    }))

    n = N["events"]
    base_us = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    ts = base_us + np.cumsum(rng.integers(1_000_000, 12_000_000, n))  # ~1-12 s apart
    etypes = np.array(["error", "signup", "purchase", "view", "click"])
    _write("events", pa.table({
        "event_id": pa.array(range(n)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15_000, n)),
        "event_type": etypes[rng.integers(0, len(etypes), n)],
        "value": np.round(rng.uniform(1, 500, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }))

    # -- documents: open-vocab bag-of-words, planted exact + near dups
    n = N["documents"]
    langs = np.array(["en"] * 9 + ["zh"])
    texts = _doc_texts(rng, n)
    _write("documents", pa.table({
        "doc_id": pa.array(range(n)),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts]),
    }))

    # -- embeddings: unit 64-d with planted cos~0.5 near-dup pairs ----
    n = N["embeddings"]
    V = rng.standard_normal((n, 64))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    nd = np.arange(n) % 8 == 5
    idx = np.nonzero(nd)[0]
    noise = rng.standard_normal((len(idx), 64))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    mixed = V[idx - 1] + 0.75 * noise  # cos ~ 1/sqrt(1+0.5625) = 0.8
    V[idx] = mixed / np.linalg.norm(mixed, axis=1, keepdims=True)
    import pyarrow as pa2

    _write("embeddings", pa.table({
        "vec_id": pa.array(range(n)),
        "embedding": pa2.array([row.tolist() for row in V.astype(np.float32)],
                               pa2.list_(pa2.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }))
    print(f"generated sf1 at {SF1_DIR} in {time.time() - t0:.1f}s")


SF3_DIR = os.environ.get("SPARK_GRAFT_SF3_DIR", "/tmp/spark_graft_sf3")
SF10_DIR = os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/spark_graft_sf10")
SF30_DIR = os.environ.get("SPARK_GRAFT_SF30_DIR", "/tmp/spark_graft_sf30")

# the dedup/ANN/corpus family measured at the extra sf3 point
# (VERDICT r5 #7). Documents+embeddings only — these queries read no
# TPC-H table. Corpora are OPEN-vocabulary since r13 (_doc_texts);
# pre-r13 SCALING.md rows (e.g. the sf1 exact-path 16.5%-capped
# regime) were measured on the old closed-31-word corpus and are not
# comparable to rows on the new one. Since r10 the REGISTERED ngram
# face route-switches onto MinHash-LSH at >=20k docs, so it joins the
# family below to measure the routed slope.
FAMILY_SF3 = [
    "llm_dedup_exact", "llm_dedup_minhash_lsh", "llm_dedup_clusters",
    # registered face routes through LSH at >=20k docs since r10
    # (below that it is the exact join — the sf0.1 column measures the
    # exact path, sf1+ measure the LSH route; the discontinuity at the
    # switch is expected and documented)
    "llm_dedup_ngram_jaccard",
    "llm_semdedup", "llm_semdedup_survivors", "llm_emb_cosine_topk",
    "llm_emb_ann_lsh", "llm_emb_ann_ivf", "llm_emb_ann_pq",
    "llm_corpus_pipeline",
    # BPE tokenizer (r6): training cost ~ word-TYPE table (Heaps-law;
    # the r13 open vocabulary makes the type table grow with the
    # corpus, the realistic regime), encode ~ corpus
    "llm_bpe_train", "llm_bpe_encode",
    # perceptual-hash image dedup (r7: checkpointed decode — every PNG
    # decodes exactly once; decode is the constant factor, banded
    # equi-join the join shape)
    "llm_image_dedup_pairs",
    # curation headliners (r11 verdict #6: no sf10/sf30 rows before
    # r12) — documents-only, so the family dirs already carry their
    # inputs; llm_contamination additionally feeds the
    # capped_instance_frac trajectory (r11 verdict #7)
    "llm_contamination", "llm_dup_span_removal", "llm_tfidf",
]


def generate_sf3(mult: int = 3, out_dir: str | None = None) -> None:
    """documents + embeddings at ``mult``× the sf1 row counts — same
    generator recurrences (planted exact/near dups every 17th/10th
    doc, planted cos~0.8 embedding pairs every 8th vector), fresh
    seed stream so content differs from sf1 but the statistical shape
    is identical. ``mult=10`` (--generate-sf10) gives the fourth soak
    point — 100x the driver's sf0.1 on the scale-family tables."""
    import numpy as np
    import pyarrow as pa

    out_dir = out_dir or SF3_DIR
    rng = np.random.default_rng(SEED + mult)
    t0 = time.time()
    os.makedirs(out_dir, exist_ok=True)

    def write(table, tbl):
        import pyarrow.parquet as pq

        pq.write_table(tbl, os.path.join(out_dir, f"{table}.parquet"))
        print(f"  {table}: {tbl.num_rows} rows")

    n = N["documents"] * mult
    langs = np.array(["en"] * 9 + ["zh"])
    texts = _doc_texts(rng, n)
    write("documents", pa.table({
        "doc_id": pa.array(range(n)),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts]),
    }))

    n = N["embeddings"] * mult
    V = rng.standard_normal((n, 64))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    idx = np.nonzero(np.arange(n) % 8 == 5)[0]
    noise = rng.standard_normal((len(idx), 64))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    mixed = V[idx - 1] + 0.75 * noise
    V[idx] = mixed / np.linalg.norm(mixed, axis=1, keepdims=True)
    write("embeddings", pa.table({
        "vec_id": pa.array(range(n)),
        "embedding": pa.array([row.tolist() for row in V.astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }))
    print(f"generated sf{mult} family tables at {out_dir} in {time.time() - t0:.1f}s")


REL_SF1_DIR = os.environ.get("SPARK_GRAFT_REL_SF1_DIR", "/tmp/spark_graft_rel_sf1")
REL_SF10_DIR = os.environ.get("SPARK_GRAFT_REL_SF10_DIR", "/tmp/spark_graft_rel_sf10")
REL_SF30_DIR = os.environ.get("SPARK_GRAFT_REL_SF30_DIR", "/tmp/spark_graft_rel_sf30")

# The relational soak family (r11 verdict #6): the two headline
# TPC-H-shaped joins had no sf10/sf30 rows — the dedup sweep proved
# the soak finds cliffs the sf0.1 bench can't (cap-then-collect).
FAMILY_REL = ["rel_nation_profit", "rel_local_supplier_volume"]


def generate_rel(mult: int, out_dir: str) -> None:
    """TPC-H-shaped soak tables at ``mult``× the sf1 row counts with
    the DRIVER TESTDATA's value domains (real region names, NATION_i,
    o_orderdate 1995 + ≤2400 d, 'red'-bearing p_name adjectives) —
    the sf1 generator above predates the rel soak and used synthetic
    REGION_i names, under which rel_local_supplier_volume's ASIA
    filter matches nothing; these dirs keep all soak points
    semantically comparable to the sf0.1 anchor. lineitem/orders are
    written CHUNKED (5M-row pieces through one ParquetWriter) so
    sf30's 180M-row lineitem never holds more than one chunk of
    column arrays in memory."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED + 1000 + mult)
    t0 = time.time()
    os.makedirs(out_dir, exist_ok=True)

    def write(table, tbl):
        pq.write_table(tbl, os.path.join(out_dir, f"{table}.parquet"))
        print(f"  {table}: {tbl.num_rows} rows", flush=True)

    write("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    n = N["supplier"] * mult
    write("supplier", pa.table({
        "s_suppkey": pa.array(range(n)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(0, 10_000, n), 2),
    }))

    n = N["customer"] * mult
    segs = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
    write("customer", pa.table({
        "c_custkey": pa.array(range(n)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 10_000, n), 2),
        "c_mktsegment": segs[rng.integers(0, len(segs), n)],
    }))

    n = N["part"] * mult
    adjs = np.array(["large", "hot", "small", "cold", "dim", "red", "blue", "old"])
    nouns = np.array(["ring", "bolt", "case", "tube", "disk", "plate", "wire", "rod"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    ai, ni = rng.integers(0, len(adjs), n), rng.integers(0, len(nouns), n)
    write("part", pa.table({
        "p_partkey": pa.array(range(n)),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in zip(ai, ni)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": types[rng.integers(0, len(types), n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.uniform(0, 200, n), 2),
    }))

    day_ms = 86_400_000
    base_ms = np.datetime64("1995-01-01").astype("datetime64[ms]").astype(np.int64)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    chunk = 5_000_000

    n = N["orders"] * mult
    n_cust = N["customer"] * mult
    schema = None
    path = os.path.join(out_dir, "orders.parquet")
    writer = None
    for lo in range(0, n, chunk):
        m = min(chunk, n - lo)
        tbl = pa.table({
            "o_orderkey": pa.array(np.arange(lo, lo + m)),
            "o_custkey": pa.array(rng.integers(0, n_cust, m)),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, m)],
            "o_totalprice": np.round(rng.uniform(1_000, 400_000, m), 2),
            "o_orderdate": pa.array(
                base_ms + rng.integers(0, 2400, m) * day_ms, pa.timestamp("ms")
            ),
            "o_orderpriority": prios[rng.integers(0, len(prios), m)],
        })
        if writer is None:
            schema = tbl.schema
            writer = pq.ParquetWriter(path, schema)
        writer.write_table(tbl)
    writer.close()
    print(f"  orders: {n} rows", flush=True)

    n = N["lineitem"] * mult
    lines_per_order = n // (N["orders"] * mult)  # 4
    path = os.path.join(out_dir, "lineitem.parquet")
    writer = None
    for lo in range(0, n, chunk):
        m = min(chunk, n - lo)
        pos = np.arange(lo, lo + m)
        qty = rng.integers(1, 51, m).astype(np.float64)
        tbl = pa.table({
            "l_orderkey": pa.array(pos // lines_per_order),
            "l_partkey": pa.array(rng.integers(0, N["part"] * mult, m)),
            "l_suppkey": pa.array(rng.integers(0, N["supplier"] * mult, m)),
            "l_linenumber": pa.array((pos % lines_per_order) + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, m), 2),
            "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
            "l_returnflag": np.array(["R", "N", "A"])[rng.integers(0, 3, m)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, m)],
            "l_shipdate": pa.array(
                base_ms + rng.integers(0, 2400, m) * day_ms, pa.timestamp("ms")
            ),
        })
        if writer is None:
            writer = pq.ParquetWriter(path, tbl.schema)
        writer.write_table(tbl)
    writer.close()
    print(f"  lineitem: {n} rows", flush=True)
    print(f"generated rel sf{mult} tables at {out_dir} in {time.time() - t0:.1f}s")


# Window/session machinery at soak scale (r12): the cs_*/rel_ session
# faces had no point above sf1's 1M events. Swept over any rel dir
# carrying events.parquet.
FAMILY_EVENTS = [
    "cs_windowed_agg", "cs_sliding_agg", "cs_summary_city",
    "rel_user_sessions", "rel_session_window_native", "rel_user_event_gaps",
]


def generate_events(mult: int, out_dir: str) -> None:
    """events at ``mult``× the sf1 row count (1M) into a rel soak dir —
    same schema and recurrences as the sf1 generator (cumulative 1-12 s
    gaps, 5 event types, JSON props), user population scaled with the
    corpus so per-user session shapes stay comparable. Chunked with the
    timestamp cumsum carried across chunks."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED + 2000 + mult)
    t0 = time.time()
    os.makedirs(out_dir, exist_ok=True)
    n = N["events"] * mult
    etypes = np.array(["error", "signup", "purchase", "view", "click"])
    chunk = 5_000_000
    base_us = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    carry = base_us
    writer = None
    path = os.path.join(out_dir, "events.parquet")
    for lo in range(0, n, chunk):
        m = min(chunk, n - lo)
        ts = carry + np.cumsum(rng.integers(1_000_000, 12_000_000, m))
        carry = int(ts[-1])
        tbl = pa.table({
            "event_id": pa.array(np.arange(lo, lo + m)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 15_000 * mult, m)),
            "event_type": etypes[rng.integers(0, len(etypes), m)],
            "value": np.round(rng.uniform(1, 500, m), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
        })
        if writer is None:
            writer = pq.ParquetWriter(path, tbl.schema)
        writer.write_table(tbl)
    writer.close()
    print(f"  events: {n} rows at {out_dir} in {time.time() - t0:.1f}s", flush=True)


def run_events() -> None:
    """FAMILY_EVENTS over every soak point carrying events.parquet —
    merged into SOAK_sf1.json under 'family_events'.

    PROTOCOL: execute-only (noop sink), NOT .collect() — unlike the
    other families, most window/session faces emit O(events) rows
    (per-event gaps, per-minute windows, per-user sessions), so a
    .collect() at sf30 measures 30M-row driver materialization (and
    OOMs the 16g driver on the session faces) instead of the
    operator. A cluster deployment writes these outputs; the noop
    sink is that measurement. The first (collect-protocol) run of
    this family is preserved in SCALING.md as the evidence."""
    import math

    from real_time_event_streaming_pipeline_spark.plans import all_queries
    from real_time_event_streaming_pipeline_spark.session import get_spark

    spark = get_spark("scale_soak_events")
    queries = all_queries()
    dirs = {"sf0.1": "/root/testdata/sf0.1"}
    for label, d in (("sf1", SF1_DIR), ("sf10", REL_SF10_DIR), ("sf30", REL_SF30_DIR)):
        if os.path.exists(os.path.join(d, "events.parquet")):
            dirs[label] = d
    queries["cs_windowed_agg"](spark, dirs["sf0.1"]).collect()  # warm-up
    results: dict = {}
    for name in FAMILY_EVENTS:
        results[name] = {}
        for label, d in dirs.items():
            best: float | str = float("inf")
            try:
                for _ in range(2):
                    pinned = _hygiene(spark)
                    t0 = time.perf_counter()
                    queries[name](spark, d).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    best = min(best, time.perf_counter() - t0)
                best = round(best, 3)
            except Exception as e:  # noqa: BLE001 — the sweep must finish
                best = f"error: {type(e).__name__}"
                pinned = -1
            results[name][label] = best
            print(f"  {name} @ {label}: {best} (pinned RDDs before: {pinned})",
                  flush=True)

    labels = list(dirs)
    ratios = {"sf1": ("sf0.1", 10.0), "sf10": ("sf1", 10.0), "sf30": ("sf10", 3.0)}
    print("\n| query | " + " | ".join(f"{l} (s)" for l in labels) + " | "
          + " | ".join(f"exp →{l}" for l in labels[1:]) + " |")
    print("|---|" + "---|" * (2 * len(labels) - 1))
    for name, r in results.items():
        cells = [str(r.get(l)) for l in labels]
        for l in labels[1:]:
            prev_l, fold = ratios[l]
            a, b = r.get(prev_l), r.get(l)
            if all(isinstance(x, (int, float)) and x > 0 for x in (a, b)):
                cells.append(f"{math.log(b / a) / math.log(fold):.2f}")
            else:
                cells.append("—")
        print(f"| {name} | " + " | ".join(cells) + " |")

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SOAK_sf1.json"
    )
    try:
        with open(path) as fh:
            existing = json.load(fh)
    except (FileNotFoundError, ValueError):
        existing = {}
    fam = existing.get("family_events", {})
    fam.update(results)
    fam["_protocol"] = "execute-only (noop sink) — see run_events docstring"
    existing["family_events"] = fam
    with open(path, "w") as fh:
        json.dump(existing, fh, indent=1, sort_keys=True)
    print("\nwrote family_events into SOAK_sf1.json")


def run_rel() -> None:
    """The relational soak sweep: FAMILY_REL over every point whose
    dir carries lineitem (sf0.1 = driver testdata anchor; sf1/sf10/
    sf30 = generate_rel dirs with matching value domains). Appends a
    'family_rel' block into SOAK_sf1.json with the same best-of-2 +
    hygiene protocol as run_family."""
    import math

    from real_time_event_streaming_pipeline_spark.plans import all_queries
    from real_time_event_streaming_pipeline_spark.session import get_spark

    spark = get_spark("scale_soak_rel")
    queries = all_queries()
    dirs = {"sf0.1": "/root/testdata/sf0.1"}
    for label, d in (("sf1", REL_SF1_DIR), ("sf10", REL_SF10_DIR),
                     ("sf30", REL_SF30_DIR)):
        if os.path.exists(os.path.join(d, "lineitem.parquet")):
            dirs[label] = d
    queries["rel_nation_profit"](spark, dirs["sf0.1"]).collect()  # warm-up
    results: dict = {}
    for name in FAMILY_REL:
        results[name] = {}
        for label, d in dirs.items():
            best: float | str = float("inf")
            try:
                for _ in range(2):
                    pinned = _hygiene(spark)
                    t0 = time.perf_counter()
                    queries[name](spark, d).collect()
                    best = min(best, time.perf_counter() - t0)
                best = round(best, 3)
            except Exception as e:  # noqa: BLE001 — the sweep must finish
                best = f"error: {type(e).__name__}"
                pinned = -1
            results[name][label] = best
            print(f"  {name} @ {label}: {best} (pinned RDDs before: {pinned})",
                  flush=True)

    labels = list(dirs)
    ratios = {"sf1": ("sf0.1", 10.0), "sf10": ("sf1", 10.0), "sf30": ("sf10", 3.0)}
    print("\n| query | " + " | ".join(f"{l} (s)" for l in labels) + " | "
          + " | ".join(f"exp →{l}" for l in labels[1:]) + " |")
    print("|---|" + "---|" * (2 * len(labels) - 1))
    for name, r in results.items():
        cells = [str(r.get(l)) for l in labels]
        for l in labels[1:]:
            prev_l, fold = ratios[l]
            a, b = r.get(prev_l), r.get(l)
            if all(isinstance(x, (int, float)) and x > 0 for x in (a, b)):
                cells.append(f"{math.log(b / a) / math.log(fold):.2f}")
            else:
                cells.append("—")
        print(f"| {name} | " + " | ".join(cells) + " |")

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SOAK_sf1.json"
    )
    try:
        with open(path) as fh:
            existing = json.load(fh)
    except (FileNotFoundError, ValueError):
        existing = {}
    fam = existing.get("family_rel", {})
    fam.update(results)
    existing["family_rel"] = fam
    with open(path, "w") as fh:
        json.dump(existing, fh, indent=1, sort_keys=True)
    print("\nwrote family_rel into SOAK_sf1.json")


def run_family_isolated() -> None:
    """One SUBPROCESS per face (r12): the shared-session sweep
    measures long-session degradation on the Python-worker/BLAS-heavy
    faces that _hygiene cannot reclaim — llm_semdedup_survivors read
    31.0 s at sf30 as face 6 of 17 in one session vs 16.1 s
    standalone, same code, same box, same protocol. Each face here
    runs `--run-sf3 --only=<face>` in its own process (fresh JVM,
    fresh python workers), so a row's wall is the FACE's, not the
    session history's; rows merge into the same family_sf3 block.
    Costs one ~20 s JVM startup per face; use --only=a,b to subset."""
    only = [
        n for a in sys.argv if a.startswith("--only=") for n in a.split("=", 1)[1].split(",")
    ]
    family = [n for n in FAMILY_SF3 if not only or n in only]
    import subprocess

    for name in family:
        print(f"--- isolated: {name} ---", flush=True)
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run-sf3", f"--only={name}"],
            capture_output=True, text=True, timeout=3600,
        )
        for line in (r.stdout or "").splitlines():
            if "@ sf" in line or line.startswith("|"):
                print(line, flush=True)
        if r.returncode != 0:
            print(f"  {name}: subprocess exit {r.returncode}", flush=True)


# Core-scaling row (r14, r13 verdict #7): the driver's own 8-vs-32
# core block runs at sf0.1, where every face is scheduling/driver
# bound and the ratio reads ≈1 no matter what the executors do. At
# sf1 the shuffle-heavy faces move real data, so the ratio is a
# parallelism measurement, not overhead noise.
CORE_SCALING_FACES = [
    "llm_dedup_minhash_lsh",
    "llm_contamination",
    "llm_dedup_ngram_jaccard",
    "llm_dedup_clusters",
]


def run_core_scaling_arm() -> None:
    """Child process: time CORE_SCALING_FACES at the point dir
    ($SPARK_GRAFT_CORE_DIR, default sf1; best-of-3 noop) on
    local[$SPARK_GRAFT_CPUS]; print one JSON line."""
    from real_time_event_streaming_pipeline_spark.plans import all_queries
    from real_time_event_streaming_pipeline_spark.session import get_spark

    point_dir = os.environ.get("SPARK_GRAFT_CORE_DIR", SF1_DIR)
    spark = get_spark("core_scaling_arm")
    queries = all_queries()
    queries[CORE_SCALING_FACES[0]](spark, point_dir).collect()  # warm-up
    out = {}
    for name in CORE_SCALING_FACES:
        best = float("inf")
        for _ in range(3):
            _hygiene(spark)
            t0 = time.perf_counter()
            queries[name](spark, point_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
    print("CORE_ARM " + json.dumps({"cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"), "best": out}))


def run_core_scaling() -> None:
    """Parent: run the arm at 32 and at 8 cores (one subprocess each —
    the master string is fixed per JVM), record t8/t32 per face into
    SOAK_sf1.json['core_scaling_<point>']. A ratio near the core
    ratio (4x) means the face is compute/shuffle-parallel at that
    point; ≈1 means it is still overhead-bound. Point dir via
    SPARK_GRAFT_CORE_DIR (default sf1; r14 measured sf1 ratios of
    only 1.10-1.49 — even sf1 under-saturates 8 cores — so the sf3
    row is the parallelism evidence)."""
    import subprocess

    point_dir = os.environ.get("SPARK_GRAFT_CORE_DIR", SF1_DIR)
    point = os.path.basename(point_dir.rstrip("/")).replace("spark_graft_", "")
    arms = {}
    for cpus in ("32", "8"):
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_GRAFT_CORE_DIR=point_dir)
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--core-scaling-arm"],
            capture_output=True, text=True, timeout=3600, env=env,
        )
        line = next((ln for ln in (r.stdout or "").splitlines() if ln.startswith("CORE_ARM ")), None)
        if line is None:
            print(r.stdout[-2000:] if r.stdout else "", file=sys.stderr)
            print(r.stderr[-2000:] if r.stderr else "", file=sys.stderr)
            raise RuntimeError(f"core-scaling arm at {cpus} cpus failed (exit {r.returncode})")
        arms[cpus] = json.loads(line[len("CORE_ARM "):])["best"]
        print(f"arm {cpus} cpus: {arms[cpus]}", flush=True)
    block = {
        name: {
            "t32": arms["32"][name],
            "t8": arms["8"][name],
            "ratio_t8_over_t32": round(arms["8"][name] / arms["32"][name], 2),
        }
        for name in CORE_SCALING_FACES
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SOAK_sf1.json"
    )
    try:
        with open(path) as fh:
            existing = json.load(fh)
    except (FileNotFoundError, ValueError):
        existing = {}
    existing[f"core_scaling_{point}"] = {
        "protocol": "best-of-3 noop per face per arm, fresh JVM per arm", **block
    }
    with open(path, "w") as fh:
        json.dump(existing, fh, indent=1, sort_keys=True)
    print("| face | t32 | t8 | t8/t32 |")
    print("|---|---|---|---|")
    for name, row in block.items():
        print(f"| {name} | {row['t32']} | {row['t8']} | {row['ratio_t8_over_t32']} |")
    print(f"\nwrote core_scaling_{point} into SOAK_sf1.json")


def run_cap_frac() -> None:
    """The capped_instance_frac trajectory (r11 verdict #7): read the
    two capped faces' truncation counters (ngram_cap_profile /
    contamination_cap_profile — the single direct-aggregate read-out
    path, r12 verdict #5) at every family soak point and record the
    derived fractions, so the df-cap's semantic drift
    ('near-dup/contamination among ALL shingles' degrading toward
    'among rare shingles only') is caught by data. Alarm threshold:
    capped_instance_frac > 0.25 (SCALING.md; sf1 ngram baseline
    0.165)."""
    from real_time_event_streaming_pipeline_spark.catalog import load
    from real_time_event_streaming_pipeline_spark.operators.dedup import (
        ngram_cap_profile,
    )
    from real_time_event_streaming_pipeline_spark.plans.curation import (
        contamination_cap_profile,
    )
    from real_time_event_streaming_pipeline_spark.session import get_spark

    spark = get_spark("cap_frac_soak")
    dirs = {"sf0.1": "/root/testdata/sf0.1", "sf1": SF1_DIR, "sf3": SF3_DIR}
    if os.path.isdir(SF10_DIR):
        dirs["sf10"] = SF10_DIR
    if os.path.isdir(SF30_DIR):
        dirs["sf30"] = SF30_DIR
    out: dict = {}
    for label, d in dirs.items():
        out[label] = {}
        for face, profiler in (
            ("llm_dedup_ngram_jaccard",
             lambda s, sd: ngram_cap_profile(load(s, sd, "documents"))),
            ("llm_contamination", contamination_cap_profile),
        ):
            _hygiene(spark)
            try:
                m = profiler(spark, d)
            except Exception as e:  # noqa: BLE001 — the sweep must finish
                out[label][face] = f"error: {type(e).__name__}"
                continue
            sh_key = "cross_shingles" if "cross_shingles" in m else "n_shingles"
            frac_sh = m["capped_shingles"] / m[sh_key] if m.get(sh_key) else 0.0
            frac_inst = (
                m["capped_instances"] / m["n_instances"] if m.get("n_instances") else 0.0
            )
            alarm = frac_inst > 0.25
            out[label][face] = {
                **m,
                "capped_shingle_frac": round(frac_sh, 4),
                "capped_instance_frac": round(frac_inst, 4),
                "alarm": alarm,
            }
            print(f"  {face} @ {label}: inst_frac={frac_inst:.4f} "
                  f"sh_frac={frac_sh:.4f}{'  ** ALARM **' if alarm else ''}",
                  flush=True)

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SOAK_sf1.json"
    )
    try:
        with open(path) as fh:
            existing = json.load(fh)
    except (FileNotFoundError, ValueError):
        existing = {}
    existing["cap_frac"] = out
    with open(path, "w") as fh:
        json.dump(existing, fh, indent=1, sort_keys=True)
    print("\nwrote cap_frac into SOAK_sf1.json")


# The r12 watch-list: faces whose worst r12 sweep exceeded exponent
# 1.1 with no same-box A/B closing them (±30-50% box drift left the
# claims unresolvable) — plus image_dedup, whose r13 batch-codec
# decode cut must be credited under the same protocol.
INTERLEAVED_FACES = [
    "llm_dedup_minhash_lsh",
    "llm_bpe_encode",
    "llm_contamination",
    "llm_semdedup_survivors",
    "llm_image_dedup_pairs",
]


def run_interleaved(faces=None, reps: int = 3) -> None:
    """Variance-controlled soak protocol (r12 verdict #1). The box
    shows ±30-50% run-to-run drift at sf30 and the r12 calibration
    probe moved 27% WITHIN one round, so per-face exponents measured
    as block sweeps (all of face A's points, then all of face B's)
    confound code with whatever the box was doing during that block.
    This protocol cancels the drift three ways:

    1. INTERLEAVE — reps round-robin across every (face, point) cell
       (A@sf1, B@sf1, ..., A@sf3, ... then the whole cycle again), so
       each cell's reps are spread uniformly across the session and a
       load burst hits all cells equally instead of one face's block;
    2. MEDIAN-of-k per cell (k=``reps``) — robust to a single burst
       landing inside a cell's rep;
    3. PROBE-NORMALIZE — the bench calibration probe (same 200M-row
       JVM sum) runs immediately before every timed rep; each cell's
       normalized median divides by its own probe medians relative to
       the session-wide probe median, so exponents computed BETWEEN
       points (measured minutes apart) are corrected for the drift
       the probe saw at each point.

    Exponent claims gate on the normalized interleaved median
    (exp_norm); raw medians are recorded beside them. Writes
    SOAK_sf1.json['interleaved'] and prints the adjudication table.
    JVM hygiene (_hygiene) runs outside every timed window, as in
    run_family."""
    import math
    import statistics

    from real_time_event_streaming_pipeline_spark.plans import all_queries
    from real_time_event_streaming_pipeline_spark.session import get_spark

    faces = faces or INTERLEAVED_FACES
    spark = get_spark("interleaved_soak")
    queries = all_queries()
    points = [("sf1", SF1_DIR, 1.0), ("sf3", SF3_DIR, 3.0)]
    if os.path.isdir(SF10_DIR):
        points.append(("sf10", SF10_DIR, 10.0))
    if os.path.isdir(SF30_DIR):
        points.append(("sf30", SF30_DIR, 30.0))
    queries[faces[0]](spark, points[0][1]).collect()  # warm-up, unmeasured

    def probe() -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            spark.range(200_000_000).selectExpr("sum(id * 2 + 1) AS s").collect()
            best = min(best, time.perf_counter() - t0)
        return best

    # POINT-major cell order — the documented round-robin (A@sf1,
    # B@sf1, ..., A@sf3, ...): within one cycle a load burst shorter
    # than the cycle hits one POINT across every face (face-vs-face
    # ratios survive), never one face's whole exponent sweep. (r13
    # review: the first recorded campaign ran face-major — all of A's
    # points, then B's — so its cross-cycle rep spread and probe
    # normalization applied but the within-cycle interleave did not;
    # the campaign was re-run under this order.)
    cells = [(f, p) for p in points for f in faces]
    walls: dict = {c[0] + "@" + c[1][0]: [] for c in cells}
    probes: dict = {c[0] + "@" + c[1][0]: [] for c in cells}
    for r in range(reps):
        for f, (label, d, _sfv) in cells:
            key = f + "@" + label
            _hygiene(spark)
            try:
                probes[key].append(round(probe(), 3))
                t0 = time.perf_counter()
                queries[f](spark, d).collect()
                walls[key].append(round(time.perf_counter() - t0, 3))
            except Exception as e:  # noqa: BLE001 — the sweep must finish
                walls[key].append(f"error: {type(e).__name__}")
            print(f"  rep {r + 1}/{reps} {key}: {walls[key][-1]} "
                  f"(probe {probes[key][-1] if probes[key] else '—'})",
                  flush=True)

    all_probes = [p for v in probes.values() for p in v]
    probe_global = statistics.median(all_probes)
    out: dict = {"protocol": {
        "reps": reps, "order": "round-robin across (face, point) cells",
        "probe_global_median": round(probe_global, 3),
        "probe_spread": [round(min(all_probes), 3), round(max(all_probes), 3)],
    }}
    table: dict = {}
    for f in faces:
        table[f] = {}
        for label, _d, sfv in points:
            key = f + "@" + label
            ok = [w for w in walls[key] if isinstance(w, float)]
            if not ok:
                table[f][label] = None
                out[key] = {"reps": walls[key], "probes": probes[key]}
                continue
            med = statistics.median(ok)
            pmed = statistics.median(probes[key])
            norm = med * (probe_global / pmed)
            table[f][label] = (med, norm, sfv)
            out[key] = {
                "reps": walls[key], "probes": probes[key],
                "median": round(med, 3), "median_normalized": round(norm, 3),
            }

    # exponent predecessors follow the points ACTUALLY present (r13
    # review: a hard-wired sf30->sf10 map silently dropped the sf30
    # exponent when sf10 was absent — the gate number the run paid
    # sf30 medians to produce); fold = ratio of adjacent present sfs
    folds = {
        points[i][0]: (points[i - 1][0], points[i][2] / points[i - 1][2])
        for i in range(1, len(points))
    }
    labels = [p[0] for p in points]
    print("\n| face | " + " | ".join(f"{l} med (norm)" for l in labels)
          + " | " + " | ".join(f"exp→{l} raw/norm" for l in labels[1:]) + " |")
    print("|---|" + "---|" * (len(labels) * 2 - 1))
    for f in faces:
        cells_s, exps_s = [], []
        for label in labels:
            v = table[f].get(label)
            cells_s.append(f"{v[0]:.2f} ({v[1]:.2f})" if v else "—")
        for label in labels[1:]:
            prev_l, fold = folds[label]
            a, b = table[f].get(prev_l), table[f].get(label)
            if a and b:
                e_raw = math.log(b[0] / a[0]) / math.log(fold)
                e_norm = math.log(b[1] / a[1]) / math.log(fold)
                exps_s.append(f"{e_raw:.2f}/{e_norm:.2f}")
                out.setdefault(f + "@" + label, {})["exp_raw"] = round(e_raw, 3)
                out[f + "@" + label]["exp_norm"] = round(e_norm, 3)
            else:
                exps_s.append("—")
        print(f"| {f} | " + " | ".join(cells_s + exps_s) + " |")

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SOAK_sf1.json"
    )
    try:
        with open(path) as fh:
            existing = json.load(fh)
    except (FileNotFoundError, ValueError):
        existing = {}
    merged = existing.get("interleaved", {})
    merged.update(out)
    existing["interleaved"] = merged
    with open(path, "w") as fh:
        json.dump(existing, fh, indent=1, sort_keys=True)
    print("\nwrote interleaved into SOAK_sf1.json (gate exponent claims "
          "on exp_norm)")


def run_family() -> None:
    """Third soak point: the dedup/ANN/corpus family at sf0.1 / sf1 /
    sf3 (the sub-linear cs_*/rel_* families have nothing left to prove
    locally). Appends an sf3 column into SOAK_sf1.json under
    'family_sf3' and prints the three-point slope table."""
    import math

    from real_time_event_streaming_pipeline_spark.plans import all_queries
    from real_time_event_streaming_pipeline_spark.session import get_spark

    spark = get_spark("scale_soak_sf3")
    queries = all_queries()
    dirs = {"sf0.1": "/root/testdata/sf0.1", "sf1": SF1_DIR, "sf3": SF3_DIR}
    if os.path.isdir(SF10_DIR):  # fourth point, present when generated
        dirs["sf10"] = SF10_DIR
    if os.path.isdir(SF30_DIR):  # fifth point (r9 verdict #6): the
        # sf10 exponents for semdedup/PQ looked fixed-cost-dominated
        # (0.58 / 0.21) — one more 3x step shows the true asymptote
        dirs["sf30"] = SF30_DIR
    queries["llm_dedup_exact"](spark, dirs["sf0.1"]).collect()  # warm-up

    only = [
        n for a in sys.argv if a.startswith("--only=") for n in a.split("=", 1)[1].split(",")
    ]
    family = [n for n in FAMILY_SF3 if not only or n in only]
    results: dict = {}
    for name in family:
        results[name] = {}
        for label, d in dirs.items():
            best: float | str = float("inf")
            try:
                for _ in range(2):
                    pinned = _hygiene(spark)  # outside the timed window
                    t0 = time.perf_counter()
                    queries[name](spark, d).collect()
                    best = min(best, time.perf_counter() - t0)
                best = round(best, 3)
            except Exception as e:  # noqa: BLE001 — the sweep must finish
                best = f"error: {type(e).__name__}"
                pinned = -1
            results[name][label] = best
            print(f"  {name} @ {label}: {best} (pinned RDDs before: {pinned})",
                  flush=True)

    labels = list(dirs)
    ratios = {"sf1": ("sf0.1", 10.0), "sf3": ("sf1", 3.0), "sf10": ("sf3", 10.0 / 3.0),
              "sf30": ("sf10", 3.0)}
    hdr = " | ".join(f"{l} (s)" for l in labels)
    exps = [l for l in labels[1:]]
    print("\n| query | " + hdr + " | " + " | ".join(f"exp →{l}" for l in exps) + " |")
    print("|---|" + "---|" * (len(labels) + len(exps)))
    for name, r in results.items():
        vals = [r.get(l) for l in labels]
        cells = [str(v) for v in vals]
        for l in exps:
            prev_l, fold = ratios[l]
            a, b = r.get(prev_l), r.get(l)
            if all(isinstance(x, (int, float)) and x > 0 for x in (a, b)):
                cells.append(f"{math.log(b / a) / math.log(fold):.2f}")
            else:
                cells.append("—")
        print(f"| {name} | " + " | ".join(cells) + " |")

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SOAK_sf1.json"
    )
    try:
        with open(path) as fh:
            existing = json.load(fh)
    except (FileNotFoundError, ValueError):
        existing = {}
    # merge per-query so a subset re-run (--only=a,b) refreshes just
    # those rows instead of clobbering the family table
    fam = existing.get("family_sf3", {})
    fam.update(results)
    existing["family_sf3"] = fam
    with open(path, "w") as fh:
        json.dump(existing, fh, indent=1, sort_keys=True)
    print("\nwrote family_sf3 into SOAK_sf1.json (exponents: 1.0 = linear)")


def run() -> None:
    from real_time_event_streaming_pipeline_spark.plans import all_queries
    from real_time_event_streaming_pipeline_spark.session import get_spark

    spark = get_spark("scale_soak")
    queries = all_queries()
    dirs = {"sf0.1": "/root/testdata/sf0.1", "sf1": SF1_DIR}
    queries["cs_cities"](spark, dirs["sf0.1"]).collect()  # warm-up

    results: dict[str, dict[str, float | str]] = {}
    for name in SOAK_QUERIES:
        results[name] = {}
        for label, d in dirs.items():
            best: float | str = float("inf")
            try:
                for _ in range(2):
                    _hygiene(spark)  # outside the timed window
                    t0 = time.perf_counter()
                    queries[name](spark, d).collect()
                    best = min(best, time.perf_counter() - t0)
                best = round(best, 3)
            except Exception as e:  # noqa: BLE001 — the sweep must finish
                best = f"error: {type(e).__name__}"
            results[name][label] = best
            print(f"  {name} @ {label}: {best}", flush=True)

    # semdedup at a FIXED recalibrated threshold (0.7), kept for
    # r5-continuity of the slope table. Since r6 the REGISTERED
    # llm_semdedup/_survivors queries self-calibrate
    # (similarity.calibrate_null_threshold: mu + sigma*sqrt(2 ln
    # n-pairs), floored at 0.45), so the r5 giant-component failure
    # mode is gone from the registered rows themselves — the sweep
    # above measures them at their derived operating point.
    from real_time_event_streaming_pipeline_spark.catalog import load as _load
    from real_time_event_streaming_pipeline_spark.streaming.semdedup_index import (
        batch_semdedup_survivors,
    )

    results["semdedup_survivors_recal"] = {}
    for label, d in dirs.items():
        thr = 0.45 if label == "sf0.1" else 0.7  # above the sf1 noise tail
        try:
            t0 = time.perf_counter()
            batch_semdedup_survivors(_load(spark, d, "embeddings"), threshold=thr).count()
            results["semdedup_survivors_recal"][label] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001
            results["semdedup_survivors_recal"][label] = f"error: {type(e).__name__}"
        print(f"  semdedup_survivors_recal @ {label}: "
              f"{results['semdedup_survivors_recal'][label]}", flush=True)

    # the n-gram stop-shingle cap's truncation profile per scale (the
    # SCALING.md follow-up; r12 verdict #5 settled the read-out on the
    # direct 1-row profile aggregates over the faces' own cap-node
    # definitions — ONE code path at every sf, same discipline as
    # lsh_bucket_saturation below). Derived fractions:
    # capped_shingle_frac / capped_instance_frac; the SCALING.md alarm
    # threshold is capped_instance_frac > 0.25 (sf1 baseline 0.165).
    from real_time_event_streaming_pipeline_spark.catalog import load as _load
    from real_time_event_streaming_pipeline_spark.operators.dedup import (
        ngram_cap_profile,
    )
    from real_time_event_streaming_pipeline_spark.plans.curation import (
        contamination_cap_profile,
    )

    def _cap_profile(got: dict) -> dict:
        n_sh = max(got.get("n_shingles", got.get("cross_shingles", 0)), 1)
        return {
            **got,
            "capped_shingle_frac": round(got["capped_shingles"] / n_sh, 4),
            "capped_instance_frac": round(
                got["capped_instances"] / max(got["n_instances"], 1), 4
            ),
        }

    results["ngram_cap_profile"] = {}
    results["contamination_cap_profile"] = {}
    for label, d in dirs.items():
        prof = _cap_profile(ngram_cap_profile(_load(spark, d, "documents")))
        results["ngram_cap_profile"][label] = prof
        print(f"  ngram_cap_profile @ {label}: {prof}", flush=True)
        prof = _cap_profile(contamination_cap_profile(spark, d))
        results["contamination_cap_profile"][label] = prof
        print(f"  contamination_cap_profile @ {label}: {prof}", flush=True)

    # LSH bucket-saturation profile (r9 ADVICE): the banded route's
    # SECOND recall-loss term — band buckets over max_bucket are
    # dropped by _cap_buckets, and on closed-vocabulary heavy-dup
    # corpora saturation is plausible. Route the counters through the
    # Observation hook so the loss is a measured number at every
    # scale, never a silent drop.
    from pyspark.sql import Observation

    from real_time_event_streaming_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs_lsh,
    )

    results["lsh_bucket_saturation"] = {}
    for label, d in dirs.items():
        obs = Observation()
        ngram_jaccard_pairs_lsh(
            _load(spark, d, "documents"), observation=obs
        ).count()
        sat = {k: (int(v) if v is not None else 0) for k, v in obs.get.items()}
        results["lsh_bucket_saturation"][label] = sat
        print(f"  lsh_bucket_saturation @ {label}: {sat}", flush=True)

    import math

    print("\n| query | sf0.1 (s) | sf1 (s) | ratio | exponent |")
    print("|---|---|---|---|---|")
    for name, r in results.items():
        a, b = r["sf0.1"], r["sf1"]
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)) or a <= 0:
            print(f"| {name} | {a} | {b} | — | — |")
            continue
        ratio = b / a
        expo = math.log10(ratio) if ratio > 0 else float("nan")
        print(f"| {name} | {a} | {b} | {ratio:.2f}x | {expo:.2f} |")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "SOAK_sf1.json"), "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    print("\nwrote SOAK_sf1.json; exponent 1.0 = linear in rows (10x data)")


def _planted_margin_corpus(spark, src_dir: str):
    """The soak embeddings plus a seeded near-dup set at the REALISTIC
    SemDeDup operating point: every 10th vector gets a duplicate
    unit(v + 0.4·g) (g unit gaussian) → cos(v, dup) ≈ 1/√1.16 ≈ 0.93,
    comfortably above a 0.9 threshold while the base corpus stays
    isotropic noise. Returns (ids, vecs) numpy arrays; dup ids follow
    the base id range so the smaller-id-wins rule always drops the
    planted dup."""
    import numpy as np

    base = (
        spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
        .select("vec_id", "embedding")
        .toPandas()
    )
    rng = np.random.default_rng(SEED)
    V = np.stack(base["embedding"].to_numpy()).astype(np.float64)
    ids = base["vec_id"].to_numpy()
    n0, dim = V.shape
    src_idx = np.arange(0, n0, 10)
    noise = rng.standard_normal((len(src_idx), dim))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    dup = V[src_idx] + 0.4 * noise
    dup /= np.linalg.norm(dup, axis=1, keepdims=True)
    all_vecs = np.vstack([V, dup])
    all_ids = np.concatenate([ids, ids.max() + 1 + np.arange(len(src_idx))])
    return all_ids, all_vecs


def run_stream_semdedup(src_dir: str | None = None, threshold: float = 0.9,
                        n_epochs: int = 4) -> None:
    """r7 verdict #5: the incremental semantic-dedup index, soaked at
    sf1 instead of pytest-small. The planted-margin corpus is split
    into ``n_epochs`` id-ordered parquet files and drained through the
    REAL streaming path (readStream + foreachBatch ingest, frozen
    centroids, accumulated cell index); per-epoch wall comes from the
    stream's own progress events. Done-bar: streamed survivors ==
    one-shot batch survivors on the same frozen centroids, and
    per-epoch cost flat (the index grows each epoch; a rescan blowup
    would show as a rising tail). Appends 'stream_semdedup_sf1' to
    SOAK_sf1.json."""
    import shutil

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_event_streaming_pipeline_spark.operators import similarity as S
    from real_time_event_streaming_pipeline_spark.session import get_spark
    from real_time_event_streaming_pipeline_spark.streaming import semdedup_index as SI

    src_dir = src_dir or SF1_DIR
    spark = get_spark("stream_semdedup_soak")
    all_ids, all_vecs = _planted_margin_corpus(spark, src_dir)
    order = np.argsort(all_ids)
    all_ids, all_vecs = all_ids[order], all_vecs[order]
    n = len(all_ids)

    work = "/tmp/spark_graft_semdedup_stream"
    shutil.rmtree(work, ignore_errors=True)
    src = os.path.join(work, "epochs")
    os.makedirs(src)
    # id-ordered split — the streamed==batch closure's precondition
    # (a cross-epoch pair is checked when its LARGER id arrives)
    for e in range(n_epochs):
        lo, hi = e * n // n_epochs, (e + 1) * n // n_epochs
        pq.write_table(
            pa.table({"vec_id": all_ids[lo:hi],
                      "embedding": pa.array(all_vecs[lo:hi].tolist(),
                                            type=pa.list_(pa.float64()))}),
            os.path.join(src, f"epoch_{e:02d}.parquet"),
        )

    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": all_ids.astype("int64"),
                      "embedding": all_vecs.tolist()})
    ).repartition(32).localCheckpoint(eager=True)
    n_centroids = int(min(1024, max(64, n // 256)))
    cents = S.sample_centroids(emb, n_centroids, "vec_id", "embedding")

    index_dir = os.path.join(work, "index")
    os.makedirs(index_dir)
    with open(SI._meta_path(index_dir), "w") as f:
        json.dump(cents, f)

    t0 = time.perf_counter()
    q = SI.start_semdedup_ingest(
        spark, src, index_dir, os.path.join(work, "ckpt"),
        max_files_per_trigger=1, threshold=threshold,
    )
    q.awaitTermination()
    wall = round(time.perf_counter() - t0, 3)
    def _duration_ms(p):
        # PySpark 4 yields StreamingQueryProgress objects; older
        # versions yielded json strings/dicts — tolerate all three
        if hasattr(p, "json"):
            p = json.loads(p.json)
        elif isinstance(p, str):
            p = json.loads(p)
        return p.get("durationMs", {})

    per_epoch = [
        round(d["triggerExecution"] / 1000.0, 3)
        for d in map(_duration_ms, q.recentProgress)
        if "triggerExecution" in d
    ]

    streamed = {r["vec_id"] for r in SI.read_survivors(spark, index_dir).collect()}
    batch = {
        r["vec_id"]
        for r in SI.batch_semdedup_survivors(
            emb, threshold=threshold, cents=cents, n_rows=n
        ).collect()
    }
    rec = {
        "corpus": f"sf1 + planted dups (n={n}, 1 per 10 at cos~0.93)",
        "threshold": threshold,
        "n_epochs": n_epochs,
        "streamed_survivors": len(streamed),
        "batch_survivors": len(batch),
        "streamed_equals_batch": streamed == batch,
        "per_epoch_s": per_epoch,
        "total_wall_s": wall,
    }
    print(json.dumps(rec, indent=1))
    assert streamed == batch, "streamed survivor set diverged from the batch sweep"
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SOAK_sf1.json"
    )
    existing = json.load(open(path)) if os.path.exists(path) else {}
    existing["stream_semdedup_sf1"] = rec
    with open(path, "w") as fh:
        json.dump(existing, fh, indent=1, sort_keys=True)
    print("wrote stream_semdedup_sf1 into SOAK_sf1.json")
    shutil.rmtree(work, ignore_errors=True)


def run_prune_demo(src_dir: str | None = None, threshold: float = 0.9) -> None:
    """r7 verdict #3(b): on the synthetic soak corpora the CALIBRATED
    semdedup operating point sits at the random-cosine ceiling, so the
    IVF candidate stage cannot prune there (documented in SCALING.md)
    — which leaves the shape that matters at 100 TB unmeasured. This
    demo plants a seeded near-dup set at the REALISTIC SemDeDup
    operating point (one dup per 10 base vectors, cos ≈ 0.93 > 0.9)
    on top of the sf1 embeddings, then measures, at threshold 0.9:

      - scored-candidate pairs vs the full pair space (pruning ratio:
        Σ_cells C(m_c, 2) over C(n, 2))
      - wall time, IVF-candidate path vs exact blocked GEMM
      - recall of the IVF pair set vs the exact pair set (must be 1.0
        — every planted pair recovered)

    Appends a 'prune_demo' record to SOAK_sf1.json."""
    import numpy as np
    from pyspark.sql import functions as _F

    from real_time_event_streaming_pipeline_spark.operators import similarity as S
    from real_time_event_streaming_pipeline_spark.session import get_spark

    src_dir = src_dir or SF1_DIR
    spark = get_spark("prune_demo")
    all_ids, all_vecs = _planted_margin_corpus(spark, src_dir)
    import pandas as pd

    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": all_ids.astype("int64"),
                      "embedding": all_vecs.tolist()})
    ).repartition(32).localCheckpoint(eager=True)
    n = len(all_ids)

    t0 = time.perf_counter()
    ivf_pairs = {
        (r["a_id"], r["b_id"])
        for r in S.neardup_pairs_ivf_candidates(emb, threshold=threshold, n_rows=n).collect()
    }
    t_ivf = round(time.perf_counter() - t0, 3)

    # block size ~4k keeps each group's pair matrix ≤ 128 MB float64
    # (the default n_blocks=8 OOMs the Arrow workers at n=220k)
    n_blocks = max(8, (n + 3999) // 4000)
    t0 = time.perf_counter()
    exact_pairs = {
        (r["a_id"], r["b_id"])
        for r in S.neardup_pairs(emb, threshold=threshold, n_blocks=n_blocks).collect()
    }
    t_exact = round(time.perf_counter() - t0, 3)

    # scored-candidate volume: pairs that share ≥1 probed cell
    n_centroids = int(min(1024, max(64, n // 256)))
    cents = S.sample_centroids(emb, n_centroids, "vec_id", "embedding")
    tagged = S.assign_cells_kernel(
        emb.select(_F.col("vec_id").alias("_id"), _F.col("embedding").alias("_vec")),
        cents, n_probe=10,
    )
    scored = (
        tagged.groupBy("cell").count()
        .agg(_F.sum(_F.expr("count * (count - 1) / 2")).alias("c")).collect()[0]["c"]
    )
    all_pairs = n * (n - 1) / 2
    recall = (
        len(ivf_pairs & exact_pairs) / len(exact_pairs) if exact_pairs else 1.0
    )
    rec = {
        "corpus": f"sf1 + planted dups (n={n}, 1 per 10 at cos~0.93)",
        "threshold": threshold,
        "exact_pairs": len(exact_pairs),
        "ivf_pairs": len(ivf_pairs),
        "recall": recall,
        "scored_candidate_pairs": int(scored),
        "full_pair_space": int(all_pairs),
        "pruning_ratio": round(scored / all_pairs, 4),
        "wall_ivf_s": t_ivf,
        "wall_exact_s": t_exact,
    }
    print(json.dumps(rec, indent=1))
    assert recall == 1.0, f"IVF recall {recall} < 1.0 at the margin-bearing operating point"
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SOAK_sf1.json"
    )
    existing = json.load(open(path)) if os.path.exists(path) else {}
    existing["prune_demo"] = rec
    with open(path, "w") as fh:
        json.dump(existing, fh, indent=1, sort_keys=True)
    print("wrote prune_demo into SOAK_sf1.json")


def main() -> None:
    if "--generate" in sys.argv:
        generate()
    if "--generate-sf3" in sys.argv:
        generate_sf3()
    if "--generate-sf10" in sys.argv:
        generate_sf3(mult=10, out_dir=SF10_DIR)
    if "--generate-sf30" in sys.argv:
        generate_sf3(mult=30, out_dir=SF30_DIR)
    if "--run" in sys.argv:
        run()
    if "--run-sf3" in sys.argv:
        run_family()
    if "--run-sf3-isolated" in sys.argv:
        run_family_isolated()
    if "--generate-rel-sf1" in sys.argv:
        generate_rel(1, REL_SF1_DIR)
    if "--generate-rel-sf10" in sys.argv:
        generate_rel(10, REL_SF10_DIR)
    if "--generate-rel-sf30" in sys.argv:
        generate_rel(30, REL_SF30_DIR)
    if "--run-rel" in sys.argv:
        run_rel()
    if "--generate-events-sf10" in sys.argv:
        generate_events(10, REL_SF10_DIR)
    if "--generate-events-sf30" in sys.argv:
        generate_events(30, REL_SF30_DIR)
    if "--run-events" in sys.argv:
        run_events()
    if "--cap-frac" in sys.argv:
        run_cap_frac()
    if "--core-scaling-arm" in sys.argv:
        run_core_scaling_arm()
    if "--core-scaling" in sys.argv:
        run_core_scaling()
    if "--run-interleaved" in sys.argv:
        only = [
            n for a in sys.argv if a.startswith("--faces=")
            for n in a.split("=", 1)[1].split(",")
        ]
        reps = next(
            (int(a.split("=", 1)[1]) for a in sys.argv if a.startswith("--reps=")),
            3,
        )
        run_interleaved(only or None, reps)
    if "--prune-demo" in sys.argv:
        # sf1's 85 cells cannot prune with n_probe=10 (n_probe²/cells
        # > 1 — measured 1.18× below); the corpus-scaled cell count
        # reaches pruning territory at sf10 (859 cells → ~0.12×), so
        # THAT is the recorded demo point. --prune-demo-sf1 keeps the
        # small-corpus measurement reproducible.
        run_prune_demo(SF10_DIR if os.path.isdir(SF10_DIR) else None)
    if "--prune-demo-sf1" in sys.argv:
        run_prune_demo(SF1_DIR)
    if "--stream-semdedup" in sys.argv:
        run_stream_semdedup()
    if len(sys.argv) == 1:
        print(__doc__)


if __name__ == "__main__":
    main()
