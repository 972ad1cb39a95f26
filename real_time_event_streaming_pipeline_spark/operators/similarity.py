"""Similarity search over embedding columns (north-star extension).

Two paths, as mandated:
- brute-force cosine top-k — the exact baseline. Dot products run as
  built-in higher-order functions (zip_with + aggregate) in double
  precision, element order fixed, so the DuckDB oracle can reproduce
  them bit-for-bit. The query side is broadcast; cost is
  O(|queries|·|corpus|) scans with no shuffle of the corpus.
- random-hyperplane LSH ANN — the scale path: 16-bit sign signatures
  bucket the corpus; probe joins on bucket equality (multi-probe over
  hamming-1 neighbors for recall). Hyperplanes are seeded-numpy
  constants folded into the plan as literals, so signatures are
  deterministic but not SQL-expressible → rows-only for the driver,
  recall-tested in tests/ against the brute-force path.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def f32_gate_margin(dim: int) -> float:
    """Superset margin for the two-stage f32-sgemm gates, scaled by
    vector dimension (r10 ADVICE #1: the old fixed 1e-4 margin is only
    valid below dim ≈ 1500 — the worst-case f32 dot error over unit
    vectors is ~(dim+2)·2⁻²⁴·‖a‖·‖b‖ ≈ 6e-8·dim for normalized rows,
    which crosses 1e-4 around dim 1667, so a 2048-dim corpus could
    silently drop true pairs). 4·dim·2⁻²⁴ gives ≥4× headroom over the
    one-sided bound at every dim — and ≥2× over the TWO-sided 2e bound
    the top-k gate needs (|fast−exact| ≤ e on both the kth score and
    the candidate score) — while the 1e-4 floor preserves the old
    behaviour (and its two-orders-of-margin slack) at small dims.
    Callers over non-normalized vectors must additionally scale by the
    norm product (see assign_cells_kernel's eps)."""
    return max(1e-4, 4.0 * dim * 2.0**-24)


def dot(a, b) -> Column:
    """Σ a_i·b_i in double, left-to-right — matches the oracle's
    list_sum(list_transform(...)) fold order."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def calibrate_null_threshold(
    emb: DataFrame,
    floor: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 512,
    round_digits: int = 4,
    n_rows: int | None = None,
) -> float:
    """Data-derived cosine operating point for the semantic-dedup
    family: ``max(floor, round(μ + σ·√(2·ln(n(n−1)/2)), 4))`` where
    (μ, σ) are the mean / population stddev of the null cosine
    distribution, estimated from a deterministic seeded sample, and
    the √(2·ln·pairs) factor is the expected maximum of that null over
    ALL n(n−1)/2 pairs (Gaussian tail bound) — so the expected number
    of random pairs crossing the threshold stays O(1) AS THE CORPUS
    GROWS. A fixed threshold (the r5-flagged 0.45) is crossed by the
    n²-growing random tail at ~10× scale, flooding connected
    components with noise edges; this rule rises with ln(n) and keeps
    the pair set signal-only at any n.

    Determinism + oracle parity: the sample is the first
    ``sample_size`` vectors ordered by (md5(vec_id), vec_id) — a
    TakeOrdered, no global sort — and the null pairs are rank i
    paired with rank i + S//2 (a fixed derangement; adjacent-rank
    pairs of an md5 ordering are an unbiased random draw). The exact
    same sample, pairing, and arithmetic are expressible in ANSI SQL
    (the oracle generator runs calibrate_null_threshold_py — the same
    sequential fold on the same sample — and inlines the resulting
    literal, so Spark and DuckDB use the IDENTICAL threshold with no
    cross-engine float-fold surface at all; ADVICE r6). Cost: one count + one bounded
    ``sample_size``-row collect — independent of corpus size.

    On corpora whose embeddings carry real near-dup structure the
    signal sits far above the null maximum and survives (pinned in
    tests/test_llmdata.py on a planted-duplicate fixture); on pure
    noise the calibrated pair set is empty — the honest answer."""
    n = emb.count() if n_rows is None else int(n_rows)
    if n < 3:
        return float(floor)
    rows = (
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .withColumn("_h", F.md5(F.col("_id").cast("string")))
        .orderBy("_h", "_id")
        .limit(int(sample_size))
        .collect()
    )
    return _null_threshold_from_sample(
        [r["_vec"] for r in rows], n, floor, round_digits
    )


def _null_threshold_from_sample(
    vecs: list, n: int, floor: float, round_digits: int = 4
) -> float:
    """The post-sample calibration arithmetic, factored so the Spark
    face and the Spark-free oracle replica (below) run the IDENTICAL
    sequential float64 fold — the threshold is derived ONCE per engine
    from the same ordered sample, then inlined into the SQL twin as a
    literal (ADVICE r6: a DuckDB avg/stddev_pop re-derivation fed by a
    differently-ordered parallel fold can diverge by 1 ulp at a
    round-to-4 boundary and flip the whole semdedup family red)."""
    S = len(vecs)
    shift = S // 2
    cos: list[float] = []
    for i in range(S - shift):
        a, b = vecs[i], vecs[i + shift]
        # dirty-input rule, shared verbatim with the SQL twin: a pair
        # contributes only if BOTH vectors are non-null with positive
        # norm — a zero/NULL vector must not crash the calibration
        # here while the oracle silently computes a different answer
        if a is None or b is None:
            continue
        d = na = nb = 0.0
        for x, y in zip(a, b):
            x, y = float(x), float(y)
            d += x * y
            na += x * x
            nb += y * y
        if na == 0.0 or nb == 0.0:
            continue
        cos.append(d / (math.sqrt(na) * math.sqrt(nb)))
    if not cos:
        return float(floor)
    mu = sum(cos) / len(cos)
    var = sum((c - mu) ** 2 for c in cos) / len(cos)  # population
    k = math.sqrt(2.0 * math.log(n * (n - 1) / 2.0))
    return max(float(floor), round(mu + k * math.sqrt(var), round_digits))


def calibrate_null_threshold_py(
    sf_dir: str,
    floor: float,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 512,
    round_digits: int = 4,
) -> float:
    """Spark-free replica of calibrate_null_threshold for the oracle
    generator: the Spark face orders by the md5 hex STRING then id —
    DuckDB's md5() returns the identical lowercase hex, so the sort +
    limit push down and only ``sample_size`` rows cross into Python
    (code-review r7: the previous full fetchall scaled with the
    corpus). float32 parquet values widen to float64 exactly in both
    readers, and _null_threshold_from_sample is the same sequential
    fold — so the generator inlines the bit-identical threshold
    literal."""
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/{table}.parquet'"
    ).fetchone()[0]
    if n < 3:
        return float(floor)
    rows = duckdb.sql(
        f"SELECT {vec_col} FROM '{sf_dir}/{table}.parquet' "
        f"ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {int(sample_size)}"
    ).fetchall()
    return _null_threshold_from_sample(
        [r[0] for r in rows], n, floor, round_digits
    )


def brute_force_topk_rowexpr(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self), per-row
    expression form: broadcast the query set against the corpus, score
    every pair with the JVM zip_with/aggregate cosine, rank per query.

    TEST ORACLE ONLY: the per-pair higher-order fold is ~100x slower
    than the blocked GEMM below (the same measurement that motivated
    neardup_pairs' kernel); kept so tests can assert the blocked form
    is bit-identical. Never registered as a query."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    scored = (
        c.join(F.broadcast(q), F.col("n_id") != F.col("q_id"))
        .withColumn("cos", cosine(F.col("q_vec"), F.col("n_vec")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "n_id",
            F.round("cos", 6).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self) — blocked
    Arrow-GEMM form, bit-identical to the row-expression twin above
    (asserted in tests/test_llmdata.py).

    Shape: the corpus is split into ``n_blocks`` id-blocks; the query
    set is replicated to every block (queries are the small side by
    contract — held-out slices, probes — so replication is P x small);
    each block group computes its cosine sub-matrix in ONE numpy
    kernel with the same dimension-at-a-time float64 accumulation as
    the zip_with/aggregate fold (hence bitwise-equal doubles, and
    bitwise agreement with the DuckDB oracle's generate_series fold),
    emits its block-local top-k per query, and a final window keeps
    the global top-k — top-k of a union is the top-k of per-block
    top-ks, so only P*k candidate rows per query cross the last
    shuffle.

    At 100 TB: one corpus shuffle (groupBy block) + GEMM beats the
    shuffle-free broadcast join whose per-pair expression interpreter
    is ~100x slower per pair; raise n_blocks so each block fits
    executor memory."""
    spark = emb.sparkSession
    c = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("blk"),
        F.lit("c").alias("role"),
    )
    blocks = spark.range(n_blocks).select(F.col("id").cast("int").alias("blk"))
    q = (
        queries.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .crossJoin(F.broadcast(blocks))
        .select("_id", "_vec", "blk", F.lit("q").alias("role"))
    )
    tagged = c.unionByName(q)
    return _grouped_gemm_topk(tagged, "blk", k)


def _topk_kernel(k: int):
    """Per-group GEMM top-k kernel factory, shared by the brute-force
    (id-block), IVF (cell), and LSH (bucket) groupings: each group
    holds a corpus slice (role 'c') plus the query rows routed to it
    (role 'q'); the kernel scores the group's cosine sub-matrix and
    emits the group-local top-k per query — top-k of a union is the
    top-k of per-group top-ks, so only |groups-routed-to| * k
    candidate rows per query reach the global ranking.

    r11 (the named r10 leftover, SCALING.md item 12): the scoring is
    two-stage like the semdedup family's kernels. The old form ran the
    dimension-at-a-time float64 fold over the FULL (n_q, n_c) matrix —
    dim temporaries of n_q·n_c doubles, the last bandwidth-heavy
    kernel in the engine (dominant term in the IVF face's sf30 wall).
    Now ONE float32 sgemm over exactly-normalized rows gates a
    candidate-column SUPERSET per query, and the exact float64
    left-to-right fold rescores only those candidates. Superset
    argument (two-sided): with e = the f32 score error bound, at most
    kk−1 columns can have fast > exact₍kk₎ + e, so fast_kth ≤
    exact₍kk₎ + e; any column of the true exact top-kk (including
    id-tie-break peers at exact₍kk₎) has fast ≥ exact₍kk₎ − e ≥
    fast_kth − 2e — and f32_gate_margin(dim) ≥ 2e at every dim with
    ≥2× slack. The exact rescore replays the identical per-pair
    left-to-right fold, so emitted doubles are bit-identical to the
    full-fold form (pinned in tests/test_twostage_kernel.py)."""
    import pandas as pd

    def _block_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np  # local import: runs on executors

        qs = pdf[pdf["role"] == "q"]
        cs = pdf[pdf["role"] == "c"]
        empty = pd.DataFrame(
            {
                "q_id": pd.Series(dtype="int64"),
                "n_id": pd.Series(dtype="int64"),
                "cos_raw": pd.Series(dtype="float64"),
            }
        )
        if len(qs) == 0 or len(cs) == 0:
            return empty
        Q = np.stack(qs["_vec"].to_numpy()).astype(np.float64)
        C = np.stack(cs["_vec"].to_numpy()).astype(np.float64)
        q_ids = qs["_id"].to_numpy()
        c_ids = cs["_id"].to_numpy()
        dim = Q.shape[1]
        kk = min(k, len(c_ids))
        # exact norms via the oracle's dim-at-a-time float64 fold
        # (O(n·dim) — never the bottleneck)
        nq = np.zeros(len(Q))
        nc = np.zeros(len(C))
        for d in range(dim):
            nq += Q[:, d] * Q[:, d]
            nc += C[:, d] * C[:, d]
        # zero-norm vectors have no cosine: the expression twin throws
        # DIVIDE_BY_ZERO under Spark 4's ANSI mode, so the kernel must
        # fail just as loudly — silently dropping (or NaN-ranking) the
        # row would make the two paths diverge on dirty input
        if (nq == 0).any() or (nc == 0).any():
            bad = list(q_ids[nq == 0]) + list(c_ids[nc == 0])
            raise ValueError(
                f"zero-norm embedding(s) {bad[:5]}: cosine undefined "
                "(the expression twin raises DIVIDE_BY_ZERO under ANSI)"
            )
        rq, rc = np.sqrt(nq), np.sqrt(nc)
        self_mask = q_ids[:, None] == c_ids[None, :]
        # stage 1: f32 sgemm over normalized rows — half the bytes of
        # the f64 score matrix, and the only O(n_q·n_c) temporary left
        fast = (Q * (1.0 / rq)[:, None]).astype(np.float32) @ (
            C * (1.0 / rc)[:, None]
        ).astype(np.float32).T
        fast[self_mask] = -np.inf  # self-exclusion before the kth cut
        gate = f32_gate_margin(dim)
        # per-row kth-largest fast score; every column within 2e of it
        # is a candidate (see the superset argument above). m = the
        # worst row's candidate count keeps the gather rectangular.
        kth = -np.partition(-fast, kk - 1, axis=1)[:, kk - 1 : kk]
        cand = fast >= kth - gate
        m = int(cand.sum(axis=1).max())
        if m >= len(c_ids):
            cols = np.broadcast_to(np.arange(len(c_ids)), (len(Q), len(c_ids)))
        else:
            cols = np.argpartition(-fast, m - 1, axis=1)[:, :m]
        # stage 2: exact dim-at-a-time float64 fold over candidate
        # columns only — (n_q, m) temps instead of (n_q, n_c); the
        # per-pair accumulation order is identical to the full fold,
        # so the doubles are bitwise the same
        Cc = np.ascontiguousarray(C[cols].transpose(2, 0, 1))  # (dim, n_q, m)
        dots = np.zeros((len(Q), cols.shape[1]))
        for d in range(dim):
            dots += Q[:, d : d + 1] * Cc[d]
        cos = dots / (rq[:, None] * rc[cols])
        rank_cos = cos.copy()
        rank_cos[self_mask[np.arange(len(Q))[:, None], cols]] = -np.inf
        cand_ids = c_ids[cols]
        out_q, out_n, out_c = [], [], []
        for i in range(len(Q)):
            # group-local (cos desc, n_id asc): lexsort's last key is
            # primary, ties on the exact double broken by id
            order = np.lexsort((cand_ids[i], -rank_cos[i]))[:kk]
            keep = order[rank_cos[i][order] != -np.inf]
            out_q.append(np.full(len(keep), q_ids[i]))
            out_n.append(cand_ids[i][keep])
            out_c.append(cos[i][keep])
        return pd.DataFrame(
            {
                "q_id": np.concatenate(out_q),
                "n_id": np.concatenate(out_n),
                "cos_raw": np.concatenate(out_c),
            }
        )

    return _block_topk


def _grouped_gemm_topk(
    tagged: DataFrame, group_col: str, k: int, dedup: bool = False
) -> DataFrame:
    """groupBy(group_col) → per-group GEMM top-k → global window.
    ``dedup`` drops repeated (q_id, n_id) candidates before ranking —
    needed when a query routes to multiple groups that can hold the
    same corpus row (LSH multiprobe); the duplicates carry the
    identical double, so keeping any one is exact."""
    cand = tagged.groupBy(group_col).applyInPandas(
        _topk_kernel(k), "q_id long, n_id long, cos_raw double"
    )
    if dedup:
        cand = cand.dropDuplicates(["q_id", "n_id"])
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("n_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "n_id",
            F.round("cos_raw", 6).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def neardup_pairs_allpairs(
    emb: DataFrame, threshold: float = 0.95, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, naive all-pairs form.

    TEST ORACLE ONLY: plans a BroadcastNestedLoopJoin over the full
    corpus — O(n²) rows through the expression interpreter. Kept so
    tests can assert the blocked form below is bitwise identical;
    never registered as a query."""
    a = emb.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"))
    b = emb.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("cos", F.round(cosine(F.col("a_vec"), F.col("b_vec")), 6))
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


def neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — EXACT, block-matrix form.

    Same result set as the all-pairs join (every unordered pair with
    round(cos, 6) ≥ threshold), but executed as a distributed blocked
    matrix product instead of a BroadcastNestedLoopJoin:

    - vectors are assigned to ``n_blocks`` blocks by id;
    - each vector is replicated to the ``n_blocks`` block-pairs it
      participates in (a broadcast join against a P² mapping table,
      shuffle volume = P·n rows — no pairwise blow-up on the wire);
    - each of the P(P+1)/2 block-pair groups computes its full cosine
      sub-matrix in ONE Arrow-batched numpy kernel
      (``applyInPandas``), then emits only the pairs over threshold.

    This is the rare justified Python seam (like the EWMA recurrence):
    the work is a dense GEMM-shaped kernel, which numpy executes ~100×
    faster than per-row expression evaluation, and the exact-all-pairs
    semantics genuinely require O(n²) FLOPs — blocking distributes
    them evenly and keeps every partition's working set to
    (n/P)² doubles. At 100 TB scale, raise ``n_blocks`` so a block
    fits executor memory (cost grows as P·n replication, the standard
    blocked-GEMM trade), or switch to the LSH/IVF candidate paths
    below when approximate recall is acceptable.

    Bitwise contract with the DuckDB oracle: the kernel accumulates
    dot products dimension-by-dimension in float64 — the identical
    left-to-right fold ((0+a₁b₁)+a₂b₂)+… that the ``zip_with`` +
    ``aggregate`` expression performs — so cos comes out bit-identical
    and the final round/filter runs JVM-side with Spark's own
    ``F.round`` (HALF_UP), exactly as the all-pairs form did.
    """
    import pandas as pd

    spark = emb.sparkSession
    # (blk → block-pair, side) mapping: diagonal groups see the block
    # once (side 'd' = both sides); off-diagonal groups see the lower
    # block as 'a' and the higher as 'b'.
    rows = []
    for blk in range(n_blocks):
        rows.append((blk, blk, blk, "d"))
        for j in range(blk + 1, n_blocks):
            rows.append((blk, blk, j, "a"))
        for j in range(blk):
            rows.append((blk, j, blk, "b"))
    mapping = spark.createDataFrame(rows, "blk int, gi int, gj int, side string")

    tagged = (
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .withColumn("blk", F.pmod(F.col("_id"), F.lit(n_blocks)).cast("int"))
        .join(F.broadcast(mapping), "blk")
    )

    # unrounded pre-filter with margin: round(x, 6) ≥ t ⟺ x ≥ t − 5e-7
    # (HALF_UP), so t − 1e-6 is a strict superset; the authoritative
    # rounded filter runs JVM-side below.
    pre_threshold = threshold - 1e-6

    def _block_cos(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np  # local import: runs on executors

        diag = (pdf["side"] == "d").any()
        a_rows = pdf if diag else pdf[pdf["side"] == "a"]
        b_rows = pdf if diag else pdf[pdf["side"] == "b"]
        empty = pd.DataFrame({"a_id": pd.Series(dtype="int64"),
                              "b_id": pd.Series(dtype="int64"),
                              "cos_raw": pd.Series(dtype="float64")})
        if len(a_rows) == 0 or len(b_rows) == 0:
            return empty
        A = np.stack(a_rows["_vec"].to_numpy()).astype(np.float64)
        B = np.stack(b_rows["_vec"].to_numpy()).astype(np.float64)
        a_ids = a_rows["_id"].to_numpy()
        b_ids = b_rows["_id"].to_numpy()
        dim = A.shape[1]
        # norms via the oracle's dim-at-a-time float64 fold (O(n·dim))
        na = np.zeros(len(A))
        nb = np.zeros(len(B))
        for d in range(dim):
            na += A[:, d] * A[:, d]
            nb += B[:, d] * B[:, d]
        # same loud zero-norm policy as _topk_kernel: the expression/
        # oracle twin raises DIVIDE_BY_ZERO under ANSI; silently
        # NaN-skipping the pairs would diverge on dirty input
        if (na == 0).any() or (nb == 0).any():
            bad = list(a_ids[na == 0]) + list(b_ids[nb == 0])
            raise ValueError(f"zero-norm embedding(s) {bad[:5]}: cosine undefined")
        ra, rb = np.sqrt(na), np.sqrt(nb)
        # two-stage scoring, same discipline as _cell_cos (r7 verdict
        # #3; r10 moved the gate to FLOAT32 — see _cell_cos for the
        # bandwidth arithmetic): one sgemm over normalized vectors
        # gates a SUPERSET mask (|cos| ≤ 1 ⇒ the dim-scaled margin dwarfs
        # the ~4e-6 f32 GEMM error); survivors are rescored with the
        # exact float64 left-to-right fold so emitted values stay
        # bit-identical to the zip_with/aggregate expression.
        fast = (A * (1.0 / ra)[:, None]).astype(np.float32) @ (
            B * (1.0 / rb)[:, None]
        ).astype(np.float32).T
        gate = f32_gate_margin(dim)  # dim-scaled (r10 ADVICE #1)
        if diag:
            # same id set on both sides: strict < dedupes and drops self
            mask = (a_ids[:, None] < b_ids[None, :]) & (fast >= pre_threshold - gate)
        else:
            # disjoint blocks: every (a, b) is a distinct unordered
            # pair, but ids may order either way — emit (min, max)
            mask = fast >= pre_threshold - gate
        ai, bi = np.nonzero(mask)
        if len(ai) == 0:
            return empty
        Aa, Bb = A[ai], B[bi]
        dots = np.zeros(len(ai))
        for d in range(dim):
            dots += Aa[:, d] * Bb[:, d]
        cos = dots / (ra[ai] * rb[bi])
        keep = cos >= pre_threshold  # authoritative, exact-fold value
        ai, bi, cos = ai[keep], bi[keep], cos[keep]
        lo = np.minimum(a_ids[ai], b_ids[bi])
        hi = np.maximum(a_ids[ai], b_ids[bi])
        return pd.DataFrame({"a_id": lo, "b_id": hi, "cos_raw": cos})

    cand = tagged.groupBy("gi", "gj").applyInPandas(
        _block_cos, "a_id long, b_id long, cos_raw double"
    )
    return (
        cand.withColumn("cos", F.round("cos_raw", 6))
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


def scaled_cell_count(n: int) -> int:
    """The corpus-scaled IVF cell count shared by the semdedup kernel
    scheme and (since r11, verdict #3) the scaled ANN face:
    min(16384, max(64, n // 256)) holds target cell occupancy ~256 as
    the corpus grows — a FIXED cell count is the scale trap the sf3
    soak measured directly (per-cell population grows linearly with n,
    the per-cell GEMM quadratically). The 16384 cap bounds the
    driver-side Lloyd sample at 16·16384 = 262k rows (~134 MB at
    dim 64, binding only past ~4.2M vectors — past THAT, switch
    kmeans='aggs' and shard the index)."""
    return int(min(16384, max(64, n // 256)))


def neardup_pairs_ivf_candidates(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    n_probe: int = 10,
    cents: list[tuple[int, list[float]]] | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — CANDIDATE-based scale
    path: multi-probe IVF cell assignment generates candidates, exact
    cosine verifies them. ``cents`` accepts a FROZEN centroid set (the
    incremental path's index contract, streaming/semdedup_index.py);
    when None, centroids are sampled from the input.

    Each vector is assigned to its ``n_probe`` nearest of
    ``n_centroids`` Voronoi cells; candidate pairs are vectors sharing
    ≥1 cell (an equi-join on cell id — the O(n²) pair space is never
    materialized as a join condition). Every candidate is then scored
    with the exact JVM-side cosine (identical fold order to the DuckDB
    oracle, norms computed ONCE per vector before the explode), so
    emitted pairs are bit-identical to the exact path's — the only
    approximation is which pairs get scored. Recall vs the exact
    blocked-GEMM path is pinned in tests at multiple scale factors
    (1.0 on this corpus with the defaults).

    Pruning is DATA-DEPENDENT, and this corpus is the worst case: its
    near-dup pairs sit at cos 0.45-0.51 while the random-pair ceiling
    is ≈0.449 — no geometric margin — so ANY recall-1.0 candidate
    scheme must score ≳1.5× the full pair space here (measured across
    (n_centroids, n_probe) grids at every testdata sf). On real
    corpora, where near-dups cluster far above the noise floor
    (0.9+ for SemDeDup's use case), the same shape prunes
    aggressively: candidates ≈ n²·n_probe²/n_centroids with
    n_centroids scaled to the corpus. The dedup of multi-cell pair
    collisions runs AFTER the threshold filter — deduping the tiny
    survivor set, not the candidate stream.

    The verify kernel is the same Arrow-batched dim-at-a-time float64
    GEMM as ``neardup_pairs`` — grouped by CELL (candidate-bounded),
    not by the full P² block mapping — because the per-pair JVM
    higher-order fold is ~100× slower per pair (measured: 26 s vs
    ~1 s at sf0.1). Bitwise contract unchanged: identical
    left-to-right accumulation, JVM-side HALF_UP round + filter.

    Compare ``neardup_pairs``: exact O(n²) FLOPs as a blocked GEMM —
    the right spend when exactness over an unstructured corpus is
    mandatory; this path wins when the data has margin.

    ``n_centroids=None`` (default) scales the cell count with the
    corpus — min(16384, max(64, n // 256)) — holding target cell
    occupancy ~constant. A FIXED cell count is a scale trap the sf3
    soak measured directly: per-cell population grows linearly with
    n, the per-cell GEMM quadratically, and the whole candidate
    stage goes ~n² (exponent 2.5 at 3×). r10 raised the cap from
    1024 to 16384: the old cap existed to bound the literal-folded
    assignment EXPRESSION, but assignment moved to the Arrow kernel
    in r9 (centroids are a numpy array, not plan literals), and the
    r9-verdict sf30 soak measured the cap binding at n > 262k —
    occupancy grew to 5860 and the semdedup faces went superlinear
    (exp 1.57/1.44 sf10→sf30) exactly as this docstring predicts for
    a fixed count. The new cap (≈4.2M vectors before it binds)
    bounds the driver-side Lloyd sample at 16·16384 = 262k rows
    (~134 MB at dim 64) — past THAT, switch kmeans='aggs' and shard
    the index."""
    if cents is None:
        if n_centroids is None:
            # callers that already counted the corpus (the calibrated
            # semdedup queries) pass n_rows to avoid a second full scan
            n = emb.count() if n_rows is None else int(n_rows)
            n_centroids = scaled_cell_count(n)
            n_rows = n  # hint for the sampler's threshold fast path
        cents = sample_centroids(emb, n_centroids, id_col, vec_col, n_rows=n_rows)
    # assignment via the Arrow kernel (bit-identical to the
    # nearest_cells expression — parity pinned in tests): O(n·k) as
    # one numpy accumulation per batch instead of k interpreter folds
    # per row, which matters once k scales with the corpus
    tagged = assign_cells_kernel(
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")),
        cents,
        n_probe,
    )
    return pairs_from_cell_rows(tagged, threshold)


def neardup_pairs_ivf_asym(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    n_probe: int = 6,
    cents: list[tuple[int, list[float]]] | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via ASYMMETRIC home-vs-probe
    cell pairing — the r10-leftover lever (SCALING.md item 13),
    landed r11. The registered `llm_semdedup` face defaulted to this
    generator in the same round (an intentional break from the
    one-round-lag convention, flagged by r11 ADVICE #1 and ratified
    here): the face sat in the live r11 verification window, so the
    switch DID carry an external verdict immediately —
    CORRECTNESS_r11 records `llm_semdedup` hash-green on this path.
    r12 extends the same layout to `llm_semdedup_survivors` and the
    streaming semdedup index via one shared candidate rule.

    Rule: a pair (a, b) is a candidate iff home(a) ∈ probes(b) OR
    home(b) ∈ probes(a), where home = the single nearest cell and
    probes = the ``n_probe`` nearest (probes include home, so
    same-home pairs are covered). Implemented as home-role ×
    probe-role pairing per cell: every vector enters the by-cell
    shuffle once as 'h' (its home cell) and ``n_probe``× as 'p' —
    1 + 6 = 7 payload copies vs the symmetric path's 10, and the
    per-cell GEMM is (homes × probes) ≈ 256 × 1536 instead of
    all-pairs (10·256)²/2 — ~16× fewer gate FLOPs at the same
    measured recall.

    WHY the recall holds where it matters: for a true near-dup at
    cos ≥ threshold the two vectors' cell rankings nearly coincide,
    so a's home cell ranks high among b's cells and the OR-rule
    fires. This is an empirical property of the operating point, not
    a theorem — the default n_probe=6 is CALIBRATED on the
    no-geometric-margin worst case (isotropic noise + planted
    cos≈0.93 duplicates, the same shape as the soak fixture):
    measured recall vs the exact path there is 0.94 / 0.977 / 0.993 /
    1.0 / 1.0 at n_probe = 2 / 3 / 4 / 6 / 8, and the n_probe=6
    equality is pinned (tests/test_llmdata.py::
    test_asym_pairing_recall_on_planted_margin — the license for the
    r12 face switch). Corpora with real cluster margin (SemDeDup's
    use case) hold recall at much lower n_probe; callers can dial it. Verified values are the same
    exact left-to-right fold as every other pair kernel, so pairs it
    emits are bit-identical to the exact path's — the only difference
    is candidate membership.

    Emits one row per surviving unordered pair (self-pairs dropped,
    multi-cell duplicates deduped AFTER the threshold filter — the
    dedup runs on the tiny survivor set, identical doubles)."""
    if cents is None:
        if n_centroids is None:
            n = emb.count() if n_rows is None else int(n_rows)
            n_centroids = scaled_cell_count(n)
            n_rows = n
        cents = sample_centroids(emb, n_centroids, id_col, vec_col, n_rows=n_rows)
    tagged = asym_cell_rows(emb, cents, n_probe, id_col, vec_col)
    return pairs_from_asym_cell_rows(tagged, threshold)


def asym_cell_rows(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    n_probe: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Role-tagged cell rows for the asymmetric candidate rule —
    (cell, _id, _vec, role): one 'h' row at the vector's single
    nearest cell, ``n_probe`` 'p' rows at its nearest cells. This is
    the ONE layout shared by the batch pair generator
    (neardup_pairs_ivf_asym), the survivors sweep
    (streaming/semdedup_index.batch_semdedup_survivors), and the
    persisted streaming index (r12, r11 verdict #4 — previously the
    survivors/streaming paths rode the symmetric 10×-payload layout
    and were twins of the batch face only by convention). 1 + n_probe
    payload copies per vector; assignment is the Arrow kernel, bit-
    identical to the nearest_cells expression (pinned)."""
    sel = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
    home = assign_cells_kernel(sel, cents, 1).withColumn("role", F.lit("h"))
    probe = assign_cells_kernel(sel, cents, n_probe).withColumn("role", F.lit("p"))
    return home.unionByName(probe)


def pairs_from_asym_cell_rows(
    tagged: DataFrame, threshold: float, cross_sides_only: bool = False
) -> DataFrame:
    """Verified pairs from role-tagged asym cell rows — the shared
    back half of the asym family: per cell, candidates are home-role ×
    probe-role row pairs (the OR-rule: (a,b) is a candidate iff
    home(a) ∈ probes(b) or home(b) ∈ probes(a), each direction
    surfacing in the respective home cell), gated by the two-stage
    f32 GEMM and settled by the exact left-to-right f64 fold — values
    bit-identical to every other pair kernel.

    ``cross_sides_only=True`` (the streaming index's cross-epoch
    call): rows carry a ``_side`` column and only pairs whose members
    come from DIFFERENT sides are emitted — index-internal pairs were
    settled in their own epochs and re-pairing them per epoch is the
    r7 'index-rescan blowup'. Returns (a_id, b_id, cos) with
    a_id < b_id, deduped after the threshold filter."""
    import pandas as pd

    pre_threshold = threshold - 1e-6  # HALF_UP superset margin (see _cell_cos)

    def _hp_cos(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np  # local import: runs on executors

        empty = pd.DataFrame(
            {
                "a_id": pd.Series(dtype="int64"),
                "b_id": pd.Series(dtype="int64"),
                "cos_raw": pd.Series(dtype="float64"),
            }
        )
        hs = pdf[pdf["role"] == "h"]
        ps = pdf[pdf["role"] == "p"]
        if len(hs) == 0 or len(ps) == 0:
            return empty
        H = np.stack(hs["_vec"].to_numpy()).astype(np.float64)
        P = np.stack(ps["_vec"].to_numpy()).astype(np.float64)
        h_ids = hs["_id"].to_numpy()
        p_ids = ps["_id"].to_numpy()
        dim = H.shape[1]
        nh = np.zeros(len(H))
        npr = np.zeros(len(P))
        for d in range(dim):
            nh += H[:, d] * H[:, d]
            npr += P[:, d] * P[:, d]
        if (nh == 0).any() or (npr == 0).any():
            bad = list(h_ids[nh == 0]) + list(p_ids[npr == 0])
            raise ValueError(f"zero-norm embedding(s) {bad[:5]}: cosine undefined")
        rh, rp = np.sqrt(nh), np.sqrt(npr)
        # two-stage, same discipline and dim-scaled margin as _cell_cos
        fast = (H * (1.0 / rh)[:, None]).astype(np.float32) @ (
            P * (1.0 / rp)[:, None]
        ).astype(np.float32).T
        mask = (h_ids[:, None] != p_ids[None, :]) & (
            fast >= pre_threshold - f32_gate_margin(dim)
        )
        if cross_sides_only:
            h_sides = hs["_side"].to_numpy()
            p_sides = ps["_side"].to_numpy()
            mask &= h_sides[:, None] != p_sides[None, :]
        hi, pi = np.nonzero(mask)
        if len(hi) == 0:
            return empty
        Hh, Pp = H[hi], P[pi]
        dots = np.zeros(len(hi))
        for d in range(dim):
            dots += Hh[:, d] * Pp[:, d]
        cos = dots / (rh[hi] * rp[pi])
        keep = cos >= pre_threshold  # authoritative exact-fold value
        hi, pi, cos = hi[keep], pi[keep], cos[keep]
        lo = np.minimum(h_ids[hi], p_ids[pi])
        hi_id = np.maximum(h_ids[hi], p_ids[pi])
        return pd.DataFrame({"a_id": lo, "b_id": hi_id, "cos_raw": cos})

    cand = tagged.groupBy("cell").applyInPandas(
        _hp_cos, "a_id long, b_id long, cos_raw double"
    )
    return (
        cand.withColumn("cos", F.round("cos_raw", 6))
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
        # a pair can surface in up to 2 cells (each side's home) and
        # from both (h,p)/(p,h) orientations in one cell — identical
        # doubles, dedup AFTER the threshold filter on the survivors
        .dropDuplicates(["a_id", "b_id"])
    )


def pairs_from_cell_rows(tagged: DataFrame, threshold: float) -> DataFrame:
    """Verified near-dup pairs from precomputed (cell, _id, _vec) rows
    — the back half of neardup_pairs_ivf_candidates, split out so the
    incremental semantic dedup (streaming/semdedup_index.py) can reuse
    one cell-assignment pass for both within-batch pairing and the
    index append (the same economy as pairs_from_band_rows in the
    MinHash family)."""
    import pandas as pd

    pre_threshold = threshold - 1e-6  # same HALF_UP superset margin as neardup_pairs

    def _cell_cos(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np  # local import: runs on executors

        empty = pd.DataFrame(
            {
                "a_id": pd.Series(dtype="int64"),
                "b_id": pd.Series(dtype="int64"),
                "cos_raw": pd.Series(dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        A = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)
        ids = pdf["_id"].to_numpy()
        dim = A.shape[1]
        # norms via the same dim-at-a-time float64 fold as the
        # zip_with/aggregate expression (O(n·dim), not the bottleneck)
        nn = np.zeros(len(A))
        for d in range(dim):
            nn += A[:, d] * A[:, d]
        # loud zero-norm policy, matching _topk_kernel/_block_cos
        if (nn == 0).any():
            raise ValueError(
                f"zero-norm embedding(s) {list(ids[nn == 0])[:5]}: cosine undefined"
            )
        rnorm = np.sqrt(nn)
        # two-stage scoring (r7 verdict #3 — the constant factor): the
        # O(n²·dim) work runs as ONE BLAS GEMM over normalized vectors
        # (SIMD + blocked, ~dim× less memory traffic than the python
        # dim-loop over full n² temporaries). r10: the GEMM runs in
        # FLOAT32 — the occupancy² score matrix is the dominant DRAM
        # write of the whole pair stage (at sf30 the 32 workers share
        # ~50 GB/s and the f64 matrices summed to hundreds of GB), so
        # halving its bytes halves the stage's bandwidth bill. Neither
        # f32 nor BLAS summation is the oracle's fold order, so the
        # scores only gate a SUPERSET mask: rows are normalized, every
        # |cos| ≤ 1, and the dim-scaled f32_gate_margin dominates the
        # ~6e-8·dim f32 GEMM error at EVERY dim (r10 ADVICE #1 — the
        # old fixed 1e-4 broke down above dim ≈ 1500); every surviving
        # pair is then rescored with the exact float64 left-to-right
        # fold — emitted values bitwise unchanged, verified strict at
        # three sfs.
        An = (A * (1.0 / rnorm)[:, None]).astype(np.float32)
        fast = An @ An.T
        mask = (ids[:, None] < ids[None, :]) & (
            fast >= pre_threshold - f32_gate_margin(dim)
        )
        ai, bi = np.nonzero(mask)
        if len(ai) == 0:
            return empty
        Aa, Ab = A[ai], A[bi]
        dots = np.zeros(len(ai))
        for d in range(dim):
            dots += Aa[:, d] * Ab[:, d]
        cos = dots / (rnorm[ai] * rnorm[bi])
        keep = cos >= pre_threshold  # authoritative, exact-fold value
        return pd.DataFrame(
            {"a_id": ids[ai][keep], "b_id": ids[bi][keep], "cos_raw": cos[keep]}
        )

    cand = tagged.groupBy("cell").applyInPandas(
        _cell_cos, "a_id long, b_id long, cos_raw double"
    )
    return (
        cand.withColumn("cos", F.round("cos_raw", 6))
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
        .dropDuplicates(["a_id", "b_id"])
    )


def _h60_py(s: str) -> int:
    """Pure-Python twin of operators.dedup._h60: first 15 hex digits
    of md5 as an int — lets an oracle generator reproduce the
    md5-ordered sample without a SparkSession."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _hash_ordered(emb: DataFrame, id_col: str, seed: int, order: str = "xxhash64"):
    """Order rows by (hash(id), id): a seeded uniform permutation with
    a deterministic tie-break, independent of file layout and
    partitioning. The smallest-n prefix under this order IS a
    distributed uniform sample — taken via TakeOrdered, so no
    driver-side first-n bias and no full collect (VERDICT r4 #3).

    ``order="md5h60"`` swaps xxhash64 for the engine-portable
    md5-60bit hash of the stringified id (``seed`` is then unused —
    the portability is the point: hashlib/DuckDB/Spark all derive the
    identical permutation, so an oracle can rebuild the exact sample;
    VERDICT r6 #3). Default stays xxhash64 for every existing caller."""
    if order == "md5h60":
        key = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
        ).cast("long")
        return emb.orderBy(key, F.col(id_col))
    return emb.orderBy(
        F.xxhash64(F.col(id_col), F.lit(int(seed))), F.col(id_col)
    )


def _lloyd_spherical(X: np.ndarray, k: int, iters: int) -> np.ndarray:
    """The driver-mode Lloyd loop, factored so an oracle generator can
    replay it on the SAME sample matrix and get bit-identical
    centroids (same numpy version, same fixed-order float64 ops).
    Init = first k sample rows; assignment by max dot (unit rows);
    means re-normalized to the sphere; empty cells keep their seed."""
    C = X[:k].copy()
    for _ in range(max(0, int(iters))):
        assign = (X @ C.T).argmax(axis=1)  # ties: lowest cell id
        # r11: group rows by cell via ONE stable argsort instead of k
        # full-array masks — the old `for c in range(k): X[assign==c]`
        # was k·n comparisons per iter, the quadratic driver term once
        # k scales with the corpus (measured: ~12 s of the IVF face's
        # sf30 wall at k=2343). The stable sort preserves each cell's
        # original row order, so X[seg] is the SAME matrix in the SAME
        # order as X[assign == c] — pts.mean(axis=0) folds identically
        # and the centroids stay bit-identical to the old loop (pinned
        # in tests/test_ann_clustered.py).
        order = np.argsort(assign, kind="stable")
        sorted_assign = assign[order]
        bounds = np.flatnonzero(np.diff(sorted_assign)) + 1
        for seg in np.split(order, bounds):
            c = int(assign[seg[0]])
            m = X[seg].mean(axis=0)
            nrm = float(np.linalg.norm(m))
            if nrm > 0:
                C[c] = m / nrm
    return C


def portable_sample_matrix(
    sf_dir: str,
    limit: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Rebuild the md5h60-ordered sample WITHOUT Spark — the oracle
    generator's replica of ``_hash_ordered(..., order='md5h60')
    .limit(limit)``. The ordering + limit push down into DuckDB (its
    md5() is the same lowercase hex as hashlib/Spark — the established
    _H60 twin), so only ``limit`` rows cross into Python instead of
    the whole table (code-review r7: a full fetchall at an sf3 soak
    dir materialized millions of rows per generator resolution).
    float32 parquet values widen to float64 exactly in both readers,
    so the matrix is bit-identical to what the Spark face collects;
    the pushdown == hashlib-sort equivalence is pinned in
    tests/test_ann_ivf_dlq.py."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT {vec_col} FROM '{sf_dir}/{table}.parquet' "
        f"ORDER BY CAST(('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 15)) AS BIGINT), "
        f"{id_col} LIMIT {int(limit)}"
    ).fetchall()
    return np.array([list(r[0]) for r in rows], dtype=np.float64)


def lloyd_sample_size(n_centroids: int) -> int:
    """Driver-Lloyd training-sample size — ONE formula shared by
    sample_centroids' default and the oracle twins that replay the
    training (plans/llmdata._emb_ann_ivf_sql), so query and oracle can
    never train on different matrices. 16 rows per centroid, floored
    at 256, CAPPED at 32768 (r13, from the r12-verdict interleaved
    adjudication of llm_semdedup_survivors): uncapped, training flops
    are k·sample = 16·k² ∝ n²/4096 in the constant-occupancy band
    (k = n/256) — the one genuinely superlinear term the decomposition
    isolated (driver Lloyd wall 1.35 s at 200k vectors → 4.7 s at
    600k, while the distributed pipeline held exp 0.96 under the
    interleaved A/B). The cap linearizes training (and the sample
    fetch/convert) past k = 2048, i.e. past ~524k vectors; every
    committed fixture and driver sf sits below it, so centroids there
    are bit-unchanged. Above it the per-centroid sample thins (16 →
    32768/k rows), which only perturbs WHERE cell boundaries fall —
    candidate recall rides on the n_probe OR-rule, not on centroid
    optimality, and the planted-margin recall pin covers the rule."""
    return max(min(16 * n_centroids, 32768), 256)


def sample_centroids(
    emb: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int | None = None,
    iters: int = 3,
    seed: int = 76923,
    kmeans: str = "driver",
    order: str = "xxhash64",
    n_rows: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Spherical k-means centroids trained on a SEEDED DISTRIBUTED
    sample — the 100 TB training path: a hash-ordered
    top-``sample_size`` sample (uniform, deterministic under any file
    layout, no first-n bias — fetched via TakeOrdered), k-means init
    from its first ``n_centroids`` rows, then ``iters`` Lloyd rounds,
    each centroid re-normalized to the unit sphere (spherical k-means
    — the right objective under the dot-product cell assignment,
    since the corpus vectors are unit-norm).

    ``kmeans`` picks where the Lloyd rounds run:
    - "driver" (default): numpy over the collected sample. The sample
      is a BOUNDED artifact by construction (sample_size × dim
      floats; the same contract as train_pq_codebooks), TakeOrdered
      returns it in a total order, and fixed-order float64 numpy is
      deterministic — and ~free, where per-round Spark jobs cost
      ~1 s of scheduling each (measured: 3 agg rounds tripled
      llm_semdedup's sf0.1 time).
    - "aggs": each round as DataFrame aggregations — assignment
      through the same JVM-literal nearest_cells fold the index uses,
      means as integer-scaled int64 sums (shuffle merge order can
      never flip a float bit). The path for a sample too large to
      collect; only n_centroids × dim aggregate rows reach the
      driver per round.

    The returned centroid list is the index's immutable contract:
    cell assignment of any vector, whenever it arrives, depends only
    on this list. ``iters=0`` degrades to the plain sampled seed
    set."""
    if kmeans not in ("driver", "aggs"):
        raise ValueError(f"kmeans must be 'driver' or 'aggs', got {kmeans!r}")
    if sample_size is None:
        sample_size = lloyd_sample_size(n_centroids)
    samp_df = (
        _hash_ordered(emb, id_col, seed, order=order)
        .limit(int(sample_size))
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
    )
    if kmeans == "driver":
        if sample_size >= 4096 and n_rows is not None and n_rows >= 4 * sample_size:
            # r11 threshold fast path: the top-S rows by a UNIFORM
            # hash all sit below the ~S/n quantile of the key space,
            # so a pre-filter at 2.5× that quantile keeps ~2.5·S rows
            # w.h.p. (binomial, mean 2.5·S — the uniformity of both
            # hash families is distribution-pinned in
            # tests/test_estimator_pins.py) and ONE scan collects
            # (key, id, vec) for just those rows; the total ordering
            # finishes driver-side over the ~2.5·S survivors. Same
            # set, same (hash, id) order as the TakeOrdered — the
            # threshold only prunes rows that cannot be in the top-S,
            # and the explicit length check falls back to the skinny
            # path in the astronomically-unlikely undershoot. n_rows
            # is a HINT (footer count): a stale value cannot change
            # the sample, only the prune efficiency.
            if order == "md5h60":
                key = F.conv(
                    F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
                ).cast("long")
                thr = int(min(1.0, 2.5 * sample_size / n_rows) * (1 << 60))
            else:
                key = F.xxhash64(F.col(id_col), F.lit(int(seed)))
                thr = -(1 << 63) + int(
                    min(1.0, 2.5 * sample_size / n_rows) * (1 << 64)
                )
            cand = (
                emb.select(
                    key.alias("_k"),
                    F.col(id_col).alias("_id"),
                    F.col(vec_col).alias("_vec"),
                )
                .filter(F.col("_k") < thr)
                .collect()  # bounded: ~2.5·sample_size rows w.h.p.
            )
            if len(cand) >= sample_size:
                cand.sort(key=lambda r: (r["_k"], r["_id"]))
                rows = cand[: int(sample_size)]
                if len(rows) < n_centroids:
                    raise ValueError(
                        f"centroid training needs >= n_centroids vectors: "
                        f"got {len(rows)} < {n_centroids}"
                    )
                X = np.array([list(r["_vec"]) for r in rows], dtype=np.float64)
                C = _lloyd_spherical(X, n_centroids, iters)
                return [(i, [float(x) for x in C[i]]) for i in range(n_centroids)]
        if sample_size >= 4096:
            # r11: skinny TakeOrdered for big samples. The naive
            # orderBy(hash).limit(S) carries the FULL row (vector
            # payload) through every partition's top-S heap and the
            # driver merge of partitions×S rows — measured 7.1 s of
            # the sf30 IVF face for a 37.5k-row sample of 600k
            # vectors. The hash key is a function of the id alone, so
            # the ordering runs over an id-only projection (parquet
            # reads one column; the heap rows are 8 bytes), and the
            # vectors are fetched afterwards with one broadcast join
            # on the sampled ids, reordered driver-side to the exact
            # (hash, id) order — SAME set, SAME order, bit-identical
            # sample matrix (the DuckDB twin portable_sample_matrix
            # is unchanged). Precondition: unique ids (the
            # assign_cells_kernel contract) — a duplicated id would
            # fan the fetch join.
            ids_ordered = [
                r[0]
                for r in _hash_ordered(
                    emb.select(F.col(id_col)), id_col, seed, order=order
                )
                .limit(int(sample_size))
                .collect()
            ]
            if len(ids_ordered) < n_centroids:
                raise ValueError(
                    f"centroid training needs >= n_centroids vectors: "
                    f"got {len(ids_ordered)} < {n_centroids}"
                )
            spark = emb.sparkSession
            ids_df = spark.createDataFrame(
                [(i,) for i in ids_ordered], emb.select(F.col(id_col)).schema
            )
            fetched = {
                r["_id"]: r["_vec"]
                for r in emb.join(F.broadcast(ids_df), id_col)
                .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
                .collect()  # bounded: sample_size rows
            }
            X = np.array(
                [list(fetched[i]) for i in ids_ordered], dtype=np.float64
            )
        else:
            rows = samp_df.collect()  # bounded: sample_size rows, total order
            if len(rows) < n_centroids:
                raise ValueError(
                    f"centroid training needs >= n_centroids vectors: "
                    f"got {len(rows)} < {n_centroids}"
                )
            X = np.array([list(r["_vec"]) for r in rows], dtype=np.float64)
        C = _lloyd_spherical(X, n_centroids, iters)
        return [(i, [float(x) for x in C[i]]) for i in range(n_centroids)]

    samp = samp_df.persist()
    try:
        init = samp.limit(n_centroids).collect()  # bounded: k rows
        if len(init) < n_centroids:
            raise ValueError(
                f"centroid training needs >= n_centroids vectors: "
                f"got {len(init)} < {n_centroids}"
            )
        cents = [(i, list(r["_vec"])) for i, r in enumerate(init)]
        dim = len(cents[0][1])
        scale = float(1 << 24)  # exact int64 sums: |x|<=1, n<=sample_size
        for _ in range(max(0, int(iters))):
            rows = (
                samp.withColumn(
                    "cell", nearest_cells("_vec", cents, 1)[0]["cell"]
                )
                .select("cell", F.posexplode("_vec").alias("pos", "x"))
                .groupBy("cell", "pos")
                .agg(
                    F.sum(F.round(F.col("x") * scale).cast("long")).alias("s"),
                    F.count(F.lit(1)).alias("c"),
                )
                .collect()  # bounded: n_centroids x dim rows
            )
            acc: dict[int, list[float]] = {}
            for r in rows:
                acc.setdefault(r["cell"], [0.0] * dim)[r["pos"]] = r["s"] / r["c"] / scale
            new = []
            for cid, old_vec in cents:
                if cid not in acc:
                    new.append((cid, old_vec))  # empty cell keeps its seed
                    continue
                v = acc[cid]
                nrm = math.sqrt(sum(x * x for x in v))
                new.append((cid, [x / nrm for x in v] if nrm > 0 else old_vec))
            cents = new
    finally:
        samp.unpersist()
    return cents


def assign_cells_kernel(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    n_probe: int,
    id_col: str = "_id",
    vec_col: str = "_vec",
) -> DataFrame:
    """(id, vec) -> exploded (cell, id, vec) rows for each of the
    ``n_probe`` nearest cells — the Arrow-batched numpy twin of
    ``nearest_cells(...)`` + explode, BIT-IDENTICAL by construction:
    dots accumulate dimension-at-a-time in float64 (the same
    left-to-right fold as the zip_with/aggregate expression — the
    _block_cos argument), and ties rank by (−dot, cell id) exactly
    like the expression's struct array_sort.

    Why it exists: the literal-folded expression evaluates k centroid
    folds per row in the interpreter/codegen — O(n·k) JVM expression
    work, and with the corpus-scaled cell count k ~ n/256 that is the
    residual superlinear term the sf3 soak isolated after the
    occupancy fix (exp ~1.3-1.5). Since r10 the kernel is two-stage
    (the r9 sf30 soak named the n×k dim-at-a-time accumulation as
    memory-bound dominant cost): a BLAS dgemm gates a superset of
    candidate columns per row, and the exact fold re-scores only
    those ~n_probe columns — see the stage-1 comment in ``run`` for
    the bit-identity argument. The assignment parity is pinned in
    tests/test_llmdata.py against the expression path on both real
    testdata and random vectors.

    Topology (r10, third iteration): assignment is a SCALAR Pandas
    UDF returning ``array<int>`` of the n_probe cells, exploded
    JVM-side. Only the vec column crosses Arrow INTO python and only
    a small int array comes back; the id and vector columns ride the
    JVM row the whole way, so there is no join, no id-exchange, and
    no sort. History: r8 shipped every vector n_probe× back across
    Arrow (90.6 s of semdedup's 101 s sf10 pairs stage); r9 emitted
    (cell, id) from mapInPandas and re-attached vectors with an
    equi-join (~9 s at sf10) — but the r9-verdict sf30 soak measured
    that join (6M-row SMJ + vector payload) at ~36 s of the 60 s
    face, and the join's duplicate-id cross-product hazard (r9
    ADVICE) needed a guard. The UDF+explode topology removes the
    join and the hazard at once: a duplicated id emits each input
    row's OWN vector exactly n_probe times, by construction (pinned
    in tests/test_llmdata.py). Output schema and row multiset are
    unchanged from both predecessors on unique-id input."""
    import numpy as np  # noqa: F401 (kernel body imports on executors)

    cell_ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    C = np.array([cvec for _, cvec in cents], dtype=np.float64)
    C32T = np.ascontiguousarray(C.T.astype(np.float32))
    cmax_norm = float(np.sqrt((C * C).sum(axis=1)).max()) if len(C) else 0.0
    n_probe = int(n_probe)

    def cells_of(vecs):
        import numpy as np
        import pandas as pd

        k = len(C)
        if not len(vecs):
            return pd.Series([], dtype=object)
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        n = len(X)
        if k > n_probe:
            # r10 two-stage (the r9 sf30 soak's named cause: the
            # dim-at-a-time fold materializes an n×k temp 64 times
            # — memory-bound, 37.9 s of semdedup's 60 s wall at
            # 600k×1024; measured on this box, 32 concurrent
            # workers share ~50 GB/s of DRAM bandwidth and every
            # (n, k) float64 temp costs ~8× its solo wall).
            # Stage 1: ONE float32 BLAS sgemm computes fast
            # scores — half the bytes of f64, and NOT the
            # oracle's fold order, so it only gates a SUPERSET:
            # every column within eps of the row's n_probe-th
            # fast score is a candidate. eps scales with the
            # NORM product (not the score — near-orthogonal
            # large vectors have tiny scores but norm-scaled
            # rounding error): |f32dot − dot| ≤ dim·u32·‖x‖·‖c‖
            # ≈ 4e-6·‖x‖·‖c‖ at dim 64 — so the margin is the
            # dim-scaled f32_gate_margin (r10 ADVICE #1; the 1e-4
            # floor alone loses its headroom above dim ≈ 1500)
            # times (1+‖x‖·max‖c‖), which dominates the bound at
            # every dim with ≥4× slack (the pairs_from_cell_rows
            # precedent, r7 verdict #3).
            # Stage 2: the exact float64 left-to-right fold
            # re-scores ONLY the ~n_probe candidate columns per
            # row, and (negdot, cell) lexsort over exact values
            # picks and orders the emitted cells — bit-identical
            # to the full exact path by the superset argument
            # (any column beaten by n_probe strictly-better
            # exact scores can never be within eps of the fast
            # threshold).
            neg_fast = -(X.astype(np.float32) @ C32T)
            xnorm = np.sqrt((X * X).sum(axis=1, keepdims=True))
            eps = (
                f32_gate_margin(X.shape[1]) * (1.0 + xnorm * cmax_norm)
            ).astype(np.float32)
            if n_probe == 1:
                kth = neg_fast.min(axis=1, keepdims=True)  # no (n,k) copy
            else:
                kth = np.partition(neg_fast, n_probe - 1, axis=1)[
                    :, n_probe - 1 : n_probe
                ]
            # r11: FLAT candidate walk replacing the rectangular
            # argpartition gather — np.argpartition materializes a
            # full (n, k) int64 index array (190 MB/batch at k=2343,
            # measured 1.6 s/batch solo and the dominant term of the
            # 31 s sf30 corpus assignment under 32-way DRAM
            # contention). nonzero on the candidate mask yields the
            # ~n·n_probe (row, col) pairs directly; the exact fold
            # runs per-dim on the flat pairs (identical per-candidate
            # left-to-right f64 accumulation → bit-identical scores),
            # and ONE lexsort keyed (row, negdot, cell) picks each
            # row's n_probe cells in the same (−dot, cell) order as
            # the rectangular path. Every row has ≥ n_probe
            # candidates by the kth construction, so the reshape is
            # total.
            cand = neg_fast <= kth + eps
            rows_idx, cols_idx = np.nonzero(cand)  # row-major order
            counts = np.bincount(rows_idx, minlength=n)
            neg_flat = np.zeros(len(rows_idx))
            for d in range(X.shape[1]):
                neg_flat -= X[rows_idx, d] * C[cols_idx, d]
            cand_cells = cell_ids[cols_idx]
            order = np.lexsort((cand_cells, neg_flat, rows_idx))
            offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
            rank = np.arange(len(rows_idx)) - np.repeat(offs, counts)
            cells = cand_cells[order][rank < n_probe].reshape(n, n_probe)
        else:
            neg = np.zeros((n, k))
            for d in range(X.shape[1]):
                neg -= X[:, d : d + 1] * C[None, :, d]
            order = np.lexsort(
                (np.broadcast_to(cell_ids, neg.shape), neg), axis=1
            )[:, :n_probe]
            cells = cell_ids[order]
        return pd.Series(list(cells.astype(np.int32)))

    # id/vec types are carried over from the input schema — the kernel
    # replaces the expression path for ANY id type (string doc ids
    # included), so nothing here may assume `long`. _spread lifts a
    # single-file scan to full parallelism before the CPU-heavy
    # kernel — sf10's one-file embeddings table otherwise runs the
    # n×k accumulation on a handful of cores (the dominant wall).
    from .dedup import _spread

    assign = F.pandas_udf(cells_of, "array<int>")
    src = _spread(df.select(F.col(id_col), F.col(vec_col)))
    return src.select(
        F.explode(assign(F.col(vec_col))).alias("cell"), id_col, vec_col
    )


def nearest_cells(vec, cents: list[tuple[int, list[float]]], n: int) -> Column:
    """The n nearest centroid cells by dot product, as an array of
    structs sorted nearest-first — centroids fold into the plan as
    literals (JVM-side, no UDF).

    r14 (the r13 minhash expression-batching treatment, guide §4
    driver boundary): when ``vec`` is a COLUMN NAME, the whole
    k-centroid expression is built as ONE parsed SQL string —
    cProfile'd at sf0.1, the Column-object form cost 2,213
    _invoke_function calls / ~11k py4j round trips / ~3.3 s of the
    ivf face's plan build (two nearest_cells calls of 16 centroids ×
    64 dims each). The parsed tree is semantically identical: same
    double literals (repr() round-trips IEEE exactly and Spark's
    parser reads them with Java's Double.parseDouble), same
    zip_with/aggregate fold, same struct field names and types, same
    array_sort comparator — parity pinned bitwise in
    tests/test_llmdata.py. Column inputs keep the original path
    (external callers may pass derived expressions).

    Every centroid component must be finite: a NaN/Inf component
    raises ValueError naming the cell, on both paths (the string path
    would otherwise fail later as an opaque parse error on ``nanD``,
    and the Column path would silently rank NaN distances)."""
    for cid, cvec in cents:
        if not all(math.isfinite(x) for x in cvec):
            raise ValueError(
                f"nearest_cells: centroid of cell {cid} has a non-finite "
                "component (NaN or Inf)"
            )
    if isinstance(vec, str):
        def dot_sql(cvec):
            arr = "array(" + ", ".join(repr(float(x)) + "D" for x in cvec) + ")"
            return (
                f"aggregate(zip_with(`{vec}`, {arr}, "
                "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                "0.0D, (acc, v) -> acc + v)"
            )

        structs = ", ".join(
            f"named_struct('negdot', -({dot_sql(cvec)}), 'cell', {int(cid)})"
            for cid, cvec in cents
        )
        return F.expr(f"slice(array_sort(array({structs})), 1, {int(n)})")
    scored = F.array(
        *[
            F.struct(
                (-dot(vec, F.array(*[F.lit(float(x)) for x in cvec]))).alias("negdot"),
                F.lit(cid).alias("cell"),
            )
            for cid, cvec in cents
        ]
    )
    return F.slice(F.array_sort(scored), 1, n)


def ivf_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int | None = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    order: str = "xxhash64",
    scheme: str = "expr",
    n_rows: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN — the other mandated scale path besides
    LSH: partition the corpus into Voronoi cells around centroids,
    probe only the n_probe nearest cells per query. Cell assignment is
    one projection over the corpus (linear, centroids as plan
    literals); each CELL group then scores its candidates in one
    Arrow GEMM kernel (see _topk_kernel — same dim-at-a-time fold as
    the expression cosine, bit-identical doubles), so scored
    candidates ≈ corpus × n_probe/n_centroids and per-candidate cost
    is a numpy multiply, not a per-row interpreter fold. A corpus
    vector lives in exactly one cell, so no (q, n) pair is scored
    twice and no pre-ranking dedup is needed.

    ``scheme`` picks the cell-assignment implementation (r11, the
    r10 verdict's #3 — the fixed-16-cell face was the registry's one
    scale-killer):
    - "expr" (default, the oracle-literal face): ``nearest_cells``
      folds the centroids into the plan as literals — the right shape
      while k is small, O(n·k) JVM expression work once it is not.
    - "kernel": ``assign_cells_kernel`` — the Arrow-batched two-stage
      f32-gated numpy assignment the semdedup family scales with,
      BIT-IDENTICAL to the expression (parity pinned in
      tests/test_llmdata.py), so the SQL twin is unchanged. Pair with
      ``n_centroids=None`` (corpus-scaled via ``scaled_cell_count`` —
      pass ``n_rows`` from footer metadata to avoid a count scan) to
      hold cell occupancy ~constant as the corpus grows."""
    if n_centroids is None:
        n = emb.count() if n_rows is None else int(n_rows)
        n_centroids = scaled_cell_count(n)
    cents = sample_centroids(
        emb, n_centroids, id_col, vec_col, order=order, n_rows=n_rows
    )
    if scheme == "kernel":
        q = assign_cells_kernel(
            queries.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")),
            cents,
            n_probe,
        ).withColumn("role", F.lit("q"))
        c = assign_cells_kernel(
            emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")),
            cents,
            1,
        ).withColumn("role", F.lit("c"))
        # prune the corpus to PROBED cells before the shuffle: a cell
        # no query probes contributes nothing (its kernel group would
        # return empty), yet with the corpus-scaled cell count the
        # unprobed cells are ~all of them (5 driver queries × 4 probes
        # vs 2343 cells at sf30 — the full 600k-row shuffle + Arrow
        # crossing was the dominant term after the Lloyd fix). The
        # checkpoint materializes the tiny query assignment once so
        # the probed set does not re-run it inside the union lineage.
        # Skipped when the probed set is most of the cells anyway (a
        # large query side) — then the filter costs more than the
        # rows it saves.
        q = q.localCheckpoint(eager=True)  # r13: lazy A/B'd SLOWER on this path (ivf noop 4.30 lazy vs 3.39 eager, interleaved) — keep eager
        if n_queries is not None:
            # r14 (r13 verdict #5): when the caller can bound the
            # query count, the prune gate is decided from the BOUND
            # (|probed| ≤ n_queries·n_probe, dedup only shrinks it)
            # and the probed set attaches as a broadcast semi-join —
            # one driver action (checkpoint) instead of two
            # (checkpoint, then a distinct().collect() whose ids come
            # back as an isin literal list). The broadcast build runs
            # as a plan-internal future, not a blocking py4j round
            # trip. Same rows: the semi-join keeps exactly the
            # corpus cells some query probes, as the isin did.
            if n_queries * n_probe <= n_centroids // 2:
                probed_df = q.select("cell").distinct()
                c = c.join(F.broadcast(probed_df), "cell", "leftsemi")
        else:
            # unknown query count (generic callers): the r11-r13
            # collect+isin gate, unchanged — the probed set is a
            # BOUNDED collect (≤ |queries|·n_probe cell ids, deduped
            # by distinct)
            probed = [r["cell"] for r in q.select("cell").distinct().collect()]
            if len(probed) <= n_centroids // 2:
                c = c.filter(F.col("cell").isin(probed))
        return _grouped_gemm_topk(c.unionByName(q), "cell", k)
    assert scheme == "expr", scheme

    c = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        nearest_cells(vec_col, cents, 1)[0]["cell"].alias("cell"),
        F.lit("c").alias("role"),
    )
    q = (
        queries.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .withColumn("cells", nearest_cells("_vec", cents, n_probe))
        .select(
            "_id", "_vec", F.explode(F.col("cells")["cell"]).alias("cell"),
            F.lit("q").alias("role"),
        )
    )
    # the full corpus enters one cell-keyed shuffle; pruning to only
    # the PROBED cells belongs to the storage layer (the persisted
    # index path, streaming/ann_index.search, reads a cell-partitioned
    # table so unprobed cells never leave disk) — an inline semi-join
    # here was measured to cost more in extra stages than it saves at
    # query counts where this in-memory path is the right tool
    return _grouped_gemm_topk(c.unionByName(q), "cell", k)


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    sample: int = 512,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    order: str = "xxhash64",
) -> np.ndarray:
    """Product-quantization codebooks: split the dimension into ``m``
    subspaces and k-means each on a SEEDED DISTRIBUTED sample — the
    hash-ordered top-``sample`` rows (uniform over the corpus,
    deterministic tie-break by id, fetched via TakeOrdered: no
    first-n bias, no full collect). The sample itself is tiny
    (k-means state is m·k·(dim/m) floats), so the per-subspace Lloyd
    rounds run in numpy on the collected sample. Deterministic: fixed
    init (first k sampled rows), fixed iteration count, float64
    throughout — the codebook is the index's immutable contract
    exactly like IVF's centroid list.

    Returns an (m, n_codes, dim//m) float64 array.
    """
    seed = 76923
    X = np.array(
        [
            list(r[0])
            for r in _hash_ordered(emb, id_col, seed, order=order)
            .limit(sample)
            .select(vec_col)
            .collect()
        ],
        dtype=np.float64,
    )
    return _pq_lloyd(X, m, n_codes, iters)


def _pq_lloyd(X: np.ndarray, m: int, n_codes: int, iters: int) -> np.ndarray:
    """The per-subspace k-means loop, factored (like _lloyd_spherical)
    so an oracle generator can replay it on the identical sample
    matrix and freeze bit-identical codebooks into the SQL twin."""
    if X.shape[0] < n_codes:
        raise ValueError(
            f"PQ training needs >= n_codes sample vectors: got {X.shape[0]} < {n_codes}"
        )
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = np.zeros((m, n_codes, sub))
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]
        C = S[:n_codes].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(n_codes):
                pts = S[assign == c]
                if len(pts):
                    C[c] = pts.mean(0)
        books[j] = C
    return books


def pq_encode_kernel(books: np.ndarray):
    """Arrow-batched numpy twin of the pq_encode EXPRESSION —
    BIT-IDENTICAL by construction (the lsh_signature_kernel argument,
    r11): per candidate the score is lit(Σc²) − 2.0·(left-to-right
    sub-dot fold), replayed here as the same per-dim f64 accumulation
    and the same subtraction order; np.argmin's first-index tie rule
    equals the expression's (score, code) struct-sort tie rule; the
    norm is the same dim-at-a-time fold. Parity pinned in
    tests/test_llmdata.py on real data at two codebook shapes. Why:
    the expression path is m·n_codes interpreted sub-dot folds per
    row (64 folds at m=4, k=16) — the dominant term of the PQ face's
    sf30 wall."""
    m, n_codes, sub = books.shape
    B = books.astype(np.float64)
    # the expression folds lit(float((books[j, c] ** 2).sum())) — the
    # identical numpy reduction here, computed ONCE at plan build
    Bsq = np.array(
        [[float((books[j, c] ** 2).sum()) for c in range(n_codes)] for j in range(m)]
    )

    def enc(vecs):
        import numpy as np
        import pandas as pd

        if not len(vecs):
            return pd.DataFrame({"codes": pd.Series(dtype=object),
                                 "nrm": pd.Series(dtype="float64")})
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        n = len(X)
        codes = np.zeros((n, m), dtype=np.int32)
        for j in range(m):
            Sx = X[:, j * sub : (j + 1) * sub]
            d = np.zeros((n, n_codes))
            for t in range(sub):
                d += Sx[:, t : t + 1] * B[j, :, t][None, :]
            score = Bsq[j][None, :] - 2.0 * d
            codes[:, j] = score.argmin(axis=1)  # ties: lowest code
        nn = np.zeros(n)
        for t in range(X.shape[1]):
            nn += X[:, t] * X[:, t]
        return pd.DataFrame({"codes": list(codes), "nrm": np.sqrt(nn)})

    return F.pandas_udf(enc, "codes: array<int>, nrm: double")


def pq_encode(
    emb: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "kernel",
) -> DataFrame:
    """Encode each vector as ``m`` small codes (nearest sub-codebook
    entry per subspace) plus its exact L2 norm — the storage layout of
    a PQ index: dim floats → m bytes + 1 float (16-64× compression, the
    reason a 100 TB embedding corpus fits a scan at all).

    ``impl="kernel"`` (default since r11) runs the Arrow-batched
    numpy encoder (bit-identical — see pq_encode_kernel); "expr" keeps
    the original JVM path: per subspace the argmin over codes is an
    ``array_sort`` of (distance, code) structs built from literal
    codebook vectors. Minimizing ||x-c||² ⟺ minimizing ||c||² − 2·x·c,
    so each candidate costs one sub-dot against a literal.
    """
    if impl == "kernel":
        from .dedup import _spread

        enc = pq_encode_kernel(books)
        return _spread(emb).select(
            F.col(id_col).alias("n_id"),
            enc(F.col(vec_col)).alias("_e"),
        ).select("n_id", F.col("_e.codes").alias("codes"), F.col("_e.nrm").alias("nrm"))
    assert impl == "expr", impl
    m, n_codes, sub = books.shape
    vec = F.col(vec_col)

    def sub_slice(j: int):
        return F.slice(vec, j * sub + 1, sub)

    def code_for(j: int) -> Column:
        cands = F.array(
            *[
                F.struct(
                    (
                        F.lit(float((books[j, c] ** 2).sum()))
                        - 2.0 * dot(sub_slice(j), F.array(*[F.lit(float(v)) for v in books[j, c]]))
                    ).alias("score"),
                    F.lit(c).alias("code"),
                )
                for c in range(n_codes)
            ]
        )
        return F.array_sort(cands)[0]["code"]

    # spread the scan first: the per-row encode is m·n_codes struct
    # builds + m array_sorts — heavy enough that sf10's single-file
    # 13-split scan left the corpus path straggler-bound (the same
    # defect profiled in BPE and IVF assignment this round); at
    # cluster scale the scan arrives wide and _spread skips the
    # shuffle
    from .dedup import _spread

    return _spread(emb).select(
        F.col(id_col).alias("n_id"),
        F.array(*[code_for(j) for j in range(m)]).alias("codes"),
        norm(vec).alias("nrm"),
    )


def pq_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: np.ndarray | None = None,
    sample: int = 512,
    iters: int = 5,
    order: str = "xxhash64",
) -> DataFrame:
    """PQ/ADC approximate top-k — the third mandated ANN shape beside
    LSH and IVF, and the one that changes the 100 TB constant factor:
    the candidate scan touches only the m-byte codes + stored norm,
    never the vectors, and scores each candidate with ``m`` table
    lookups instead of ``dim`` multiplies.

    - per QUERY (small side), a lookup table LUT[j·k + c] =
      q_sub_j · codebook[j][c] is computed once as an array column —
      m·n_codes sub-dots, amortized over the whole corpus;
    - per CANDIDATE, approx_dot = Σ_j LUT[j·k + codes_j] — an O(m)
      fold over the code array (asymmetric distance computation);
    - the top ``rerank·k`` candidates per query by approximate cosine
      (approx_dot / (|q|·nrm)) are re-scored EXACTLY by joining the
      full vectors back, so emitted cos values are identical in kind
      to the brute-force path — PQ only chooses which pairs get the
      exact treatment.

    All JVM-side expressions (nested higher-order folds); codebooks
    fold in as literals like IVF centroids → rows-only for the driver,
    recall-pinned against brute force in tests
    (tests/test_ann_ivf_dlq.py::test_pq_ann_recall_beats_random).

    ``books`` accepts a prebuilt codebook (the index's immutable
    contract — train once, reuse across queries/epochs); when None,
    one is trained here with ``sample``/``iters`` forwarded to
    train_pq_codebooks.
    """
    if books is None:
        books = train_pq_codebooks(
            emb, m=m, n_codes=n_codes, sample=sample, iters=iters,
            id_col=id_col, vec_col=vec_col, order=order,
        )
    m, n_codes, sub = books.shape
    codes_df = pq_encode(emb, books, id_col, vec_col)

    flat_books = F.array(
        *[
            F.array(*[F.lit(float(v)) for v in books[j, c]])
            for j in range(m)
            for c in range(n_codes)
        ]
    )
    qv = F.col("q_vec")
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m * n_codes - 1)),
        lambda i: dot(
            F.slice(qv, F.floor(i / n_codes).cast("int") * sub + 1, sub),
            F.element_at(flat_books, i + 1),
        ),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_nrm"),
    ).withColumn("lut", lut)

    adc_dot = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(F.col("lut"), j * n_codes + F.element_at(F.col("codes"), j + 1) + 1),
    )
    cand = (
        codes_df.join(F.broadcast(q.select("q_id", "q_nrm", "lut")), F.col("n_id") != F.col("q_id"))
        .withColumn("approx_cos", adc_dot / (F.col("q_nrm") * F.col("nrm")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("approx_cos"), F.asc("n_id"))
    shortlist = cand.withColumn("arank", F.row_number().over(w)).filter(
        F.col("arank") <= rerank * k
    ).select("q_id", "n_id")

    # exact rerank: join the full vectors back for the shortlist only
    c_full = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    exact = (
        shortlist.join(c_full, "n_id")
        .join(F.broadcast(q.select("q_id", "q_vec")), "q_id")
        .withColumn("cos", cosine(F.col("q_vec"), F.col("n_vec")))
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.round("cos", 6).alias("cos"), F.col("rank").cast("long").alias("rank"))
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_signature_kernel(planes: np.ndarray):
    """Arrow-batched numpy twin of ``lsh_signature`` — BIT-IDENTICAL
    by construction: the per-plane dot accumulates dimension-at-a-time
    in float64 (the same left-to-right fold as the zip_with/aggregate
    expression and the DuckDB list_sum twin), so every sign bit — and
    hence every bucket id — is exactly the expression's (parity pinned
    in tests/test_llmdata.py). Why it exists: the literal-folded
    expression evaluates p interpreted dim-64 folds per row — measured
    21 s for 6 planes / 40 s for 12 over 600k rows at sf30, the
    dominant term of the whole LSH face; the kernel's (n, p) per-dim
    accumulation is a vectorized multiply, ~100× less per row."""
    P = np.array([[float(x) for x in p_] for p_ in planes], dtype=np.float64)
    weights = (1 << np.arange(len(P))).astype(np.int64)

    def sig_of(vecs):
        import numpy as np
        import pandas as pd

        if not len(vecs):
            return pd.Series([], dtype="int64")
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        dots = np.zeros((len(X), len(P)))
        for d in range(X.shape[1]):
            dots += X[:, d : d + 1] * P[None, :, d]
        return pd.Series(((dots > 0).astype(np.int64) * weights).sum(axis=1))

    return F.pandas_udf(sig_of, "long")


def lsh_signature(vec, planes: np.ndarray) -> Column:
    """Sign-bit signature as a long: bit_i = [vec · plane_i > 0]."""
    sig = None
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(v)) for v in plane])
        bit = F.when(dot(vec, arr) > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long")
        sig = term if sig is None else sig + term
    return sig


def scaled_plane_count(n: int) -> int:
    """Corpus-scaled LSH plane count: ceil(log2(n/256)) clamped to
    [6, 16] — bucket occupancy ~256 held constant as the corpus grows
    (the same fixed-bucket trap as the IVF cell count: with 6 planes
    frozen, occupancy is n/64 and the probed-bucket GEMM grows
    linearly per query while the unprobed shuffle grows with n). The
    16-plane cap (65536 buckets) binds at ~16.7M vectors."""
    import math

    return int(min(16, max(6, math.ceil(math.log2(max(n, 256) / 256)))))


# Probed-bucket corpus pruning engages only at/above this bucket
# count (below it the probes cover most buckets and the extra jobs
# cost more than the rows they save). Module-level so the parity test
# can disable pruning (set huge) and pin prune-on == prune-off.
_LSH_PRUNE_MIN_BUCKETS = 256


def lsh_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int | None = 6,
    dim: int = 64,
    multiprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """Approximate top-k: bucket corpus by LSH signature, probe each
    query's own bucket plus all buckets within hamming distance
    ``multiprobe``, score only those candidates. Corpus-side work is
    one projection + one equi-join — the pairwise scan never happens.

    Plane count trades recall for candidate-set size: 2^n_planes
    buckets should be ~corpus_size/expected_bucket_occupancy —
    ``n_planes=None`` derives exactly that via ``scaled_plane_count``
    (pass ``n_rows`` from footer metadata to avoid a count scan). On
    near-orthogonal data (this corpus: max cosine ≈ 0.5) recall is
    intrinsically modest; tests assert it beats random candidates.
    Each BUCKET group scores its candidates in one Arrow GEMM kernel
    (_topk_kernel); a query's multiprobe set can route it to several
    buckets holding the same corpus row, so repeated (q, n)
    candidates — identical doubles — are deduped before the global
    ranking."""
    if n_planes is None:
        n = emb.count() if n_rows is None else int(n_rows)
        n_planes = scaled_plane_count(n)
    planes = _hyperplanes(dim, n_planes)
    sig_udf = lsh_signature_kernel(planes)  # bit-identical, ~100× faster
    c = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        sig_udf(F.col(vec_col)).alias("bucket"),
        F.lit("c").alias("role"),
    )
    q = queries.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")).withColumn(
        "sig", sig_udf(F.col("_vec"))
    )
    masks = [0]
    if multiprobe >= 1:
        masks += [1 << i for i in range(n_planes)]
    if multiprobe >= 2:
        masks += [
            (1 << i) | (1 << j) for i in range(n_planes) for j in range(i + 1, n_planes)
        ]
    probes = F.array(*[F.col("sig").bitwiseXOR(F.lit(m).cast("long")) for m in masks])
    q = q.select(
        "_id", "_vec", F.explode(probes).alias("bucket"), F.lit("q").alias("role")
    )
    if (1 << n_planes) >= _LSH_PRUNE_MIN_BUCKETS:
        # r11 (the IVF probed-cell precedent): with the corpus-scaled
        # plane count most buckets are unprobed — prune the corpus to
        # PROBED buckets before the shuffle. The probed set is a
        # BOUNDED collect (distinct over |queries|·|masks|, ≤ 2^planes
        # ids); the checkpoint materializes the small query side once
        # so the collect does not re-run its lineage in the union.
        # Skipped entirely at ≤128 buckets (the historical fixed-6
        # face): there the probes cover most buckets and the extra
        # jobs cost more than the rows they save. (Results at the
        # driver sfs stay identical to the r6-r10 face — pinned — but
        # the PLAN differs everywhere since r11: signatures come from
        # the pandas-UDF lsh_signature_kernel, not the literal-folded
        # expression. Result-identity, not plan byte-identity.)
        q = q.localCheckpoint(eager=True)  # r13: lazy A/B'd SLOWER on this family (lsh noop 1.35 lazy vs 1.17 eager; ivf 4.30 vs 3.39, interleaved) — keep eager
        if n_queries is not None:
            # r14 (r13 verdict #5): bound-gated broadcast semi-join —
            # same mechanism as ivf_ann_topk; |probed| ≤
            # n_queries·|masks|, so the gate needs no driver collect
            if n_queries * len(masks) <= (1 << n_planes) // 2:
                probed_df = q.select("bucket").distinct()
                c = c.join(F.broadcast(probed_df), "bucket", "leftsemi")
        else:
            probed = [r["bucket"] for r in q.select("bucket").distinct().collect()]
            if len(probed) <= (1 << n_planes) // 2:
                c = c.filter(F.col("bucket").isin(probed))
    return _grouped_gemm_topk(c.unionByName(q), "bucket", k, dedup=True)
