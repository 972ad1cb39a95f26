"""LLM-data operators: ground-truth checks for the rows-only (non-SQL-
expressible) paths, plus planted-fixture tests for dedup."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from real_time_event_streaming_pipeline_spark.catalog import load
from real_time_event_streaming_pipeline_spark.operators import dedup as D
from real_time_event_streaming_pipeline_spark.operators import multimodal as M
from real_time_event_streaming_pipeline_spark.operators import similarity as S
from real_time_event_streaming_pipeline_spark.operators import text as T


def test_exact_dedup_planted(spark):
    df = spark.createDataFrame(
        [(1, "a b c", "s"), (2, "a b c", "s"), (3, "x y z", "s"), (4, "a b c", "s")],
        "doc_id long, text string, source string",
    )
    got = {(r.doc_id, r.n_copies) for r in D.exact_dedup(df).collect()}
    assert got == {(1, 3), (3, 1)}
    got2 = {(r.doc_id, r.n_copies) for r in D.exact_dedup_by_hash(df).collect()}
    assert got2 == {(1, 3), (3, 1)}


def test_shingles_short_doc_guard(spark):
    """Docs shorter than k must yield no shingles (sequence(1,0) is
    descending in Spark — the regression this guards)."""
    df = spark.createDataFrame([(1, "a b"), (2, "a b c d")], "doc_id long, text string")
    got = dict(
        (r.doc_id, r.n) for r in df.select("doc_id", F.size(D.shingles("text", 3)).alias("n")).collect()
    )
    assert got == {1: 0, 2: 2}


def test_brute_force_topk_gemm_bitwise_vs_rowexpr(spark, sf_small):
    """The blocked-GEMM brute_force_topk must be BIT-identical (ids,
    rounded cos, ranks) to the per-row expression twin it replaced —
    the dim-at-a-time kernel reproduces the zip_with/aggregate fold
    exactly, so rank membership cannot drift."""
    emb = load(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    gemm = {tuple(r) for r in S.brute_force_topk(emb, queries, k=7).collect()}
    rowx = {tuple(r) for r in S.brute_force_topk_rowexpr(emb, queries, k=7).collect()}
    assert gemm == rowx
    assert len(gemm) > 0


def test_minhash_lsh_recall_vs_exact(spark, sf_small):
    docs = load(spark, sf_small, "documents")
    exact = {
        (r.a_id, r.b_id)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    cand = {(r.a_id, r.b_id) for r in D.minhash_lsh_pairs(docs).collect()}
    assert exact, "fixture should contain planted near-duplicates"
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.9, f"minhash LSH recall too low: {recall}"


def test_minhash_est_jaccard_tracks_exact(spark, sf_small):
    docs = load(spark, sf_small, "documents")
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    est = {
        (r.a_id, r.b_id): r.est_jaccard for r in D.minhash_lsh_pairs(docs).collect()
    }
    errs = [abs(est[k] - exact[k]) for k in exact if k in est]
    assert errs and sum(errs) / len(errs) < 0.25


def test_simhash_close_for_neardups(spark, sf_small):
    """Planted near-dups (exact jaccard ≥ 0.8) should collide to nearby
    simhashes. For jaccard 0.8 the set-cosine is ~0.89, so the per-bit
    flip probability is θ/π ≈ 0.15 → E[hamming] ≈ 4.8, σ ≈ 2 over 32
    bits; a single pair at 8–9 bits is an expected tail draw, so pin
    the DISTRIBUTION, not the max: mean well under half the 16-bit
    random-pair expectation, and no pair anywhere near random."""
    docs = load(spark, sf_small, "documents")
    near = D.ngram_jaccard_pairs(docs, threshold=0.8).select("a_id", "b_id")
    sig = D.simhash(docs)
    a = sig.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("a_sig"))
    b = sig.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("b_sig"))
    joined = near.join(a, "a_id").join(b, "b_id").select(
        F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig"))).alias("ham")
    )
    rows = joined.collect()
    assert rows
    hams = [r.ham for r in rows]
    assert sum(hams) / len(hams) <= 7
    assert max(hams) <= 12


def test_ann_beats_random(spark, sf_small):
    """LSH ANN candidates must be enriched for true neighbors vs random
    pairs (recall on near-orthogonal data is modest by construction —
    see similarity.py docstring — but it must be ≫ random)."""
    emb = load(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    bf = {(r.q_id, r.n_id) for r in S.brute_force_topk(emb, queries, k=5).collect()}
    ann = {(r.q_id, r.n_id) for r in S.lsh_ann_topk(emb, queries, k=5).collect()}
    n_corpus = emb.count()
    overlap = len(bf & ann) / len(bf)
    random_rate = 5.0 / n_corpus
    assert overlap > 10 * random_rate, (overlap, random_rate)


def test_cosine_self_similarity(spark, sf_small):
    emb = load(spark, sf_small, "embeddings").limit(5)
    sim = emb.select(S.cosine(F.col("embedding"), F.col("embedding")).alias("c")).collect()
    assert all(abs(r.c - 1.0) < 1e-9 for r in sim)


def test_multimodal_features_fake_path(spark, sf_small):
    docs = load(spark, sf_small, "documents")
    feats = M.extract_features(docs, fake=True)
    rows = feats.collect()
    assert len(rows) == docs.count()
    meta = {r.doc_id: r.n_bytes for r in M.binary_meta(docs).collect()}
    assert all(meta[r.doc_id] == r.n_bytes for r in rows)


def test_multimodal_decode_stub_raises(spark, sf_small):
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    docs = load(spark, sf_small, "documents").limit(2)
    with _pytest.raises((Py4JJavaError, PythonException)) as ei:
        M.extract_features(docs, fake=False).collect()
    assert "NotImplementedError" in str(ei.value)


def test_multimodal_resize_shapes(spark, sf_small):
    docs = load(spark, sf_small, "documents").limit(20)
    out = M.resize_images(docs, width=8, height=4, fake=True)
    rows = out.collect()
    assert len(rows) == 20
    assert all(r.n_bytes == 8 * 4 and len(r.payload) == 8 * 4 for r in rows)
    assert all(r.width == 8 and r.height == 4 for r in rows)
    # deterministic: same input → identical payload on re-run
    again = {r.doc_id: bytes(r.payload) for r in out.collect()}
    assert all(bytes(r.payload) == again[r.doc_id] for r in rows)


def test_multimodal_frame_sampling_fanout(spark, sf_small):
    docs = load(spark, sf_small, "documents").limit(20)
    out = M.sample_frames(docs, frame_bytes=64, every_n=4, fake=True)
    rows = out.collect()
    # data-dependent fan-out: every kept frame index is a multiple of
    # every_n, and per-doc frame count matches ceil(ceil(len/64)/4)
    sizes = {
        r.doc_id: r.n_bytes
        for r in M.binary_meta(docs).select("doc_id", "n_bytes").collect()
    }
    import math

    per_doc: dict[int, int] = {}
    for r in rows:
        assert r.frame_idx % 4 == 0
        assert 0 < r.n_bytes <= 64
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
    for doc_id, n in per_doc.items():
        n_chunks = math.ceil(sizes[doc_id] / 64)
        assert n == math.ceil(n_chunks / 4)


def test_lang_id_deterministic_argmax(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog"),   # en stopwords
            (2, "le chat et la mer"),     # fr stopwords
            (3, "zzz qqq www"),           # none -> und
            (4, "la la la"),              # es/fr tie on 'la' -> es (code order)
        ],
        "doc_id long, text string",
    )
    got = dict(
        (r.doc_id, r.lang)
        for r in df.select("doc_id", T.predicted_lang(F.col("text")).alias("lang")).collect()
    )
    assert got == {1: "en", 2: "fr", 3: "und", 4: "es"}


def test_neardup_blocked_matches_allpairs_bitwise(spark, sf_small):
    """The blocked-matrix neardup must reproduce the all-pairs join
    exactly — same pairs, bit-identical rounded cosine."""
    emb = load(spark, sf_small, "embeddings")
    exact = {
        (r.a_id, r.b_id): r.cos
        for r in S.neardup_pairs_allpairs(emb, threshold=0.45).collect()
    }
    blocked = {
        (r.a_id, r.b_id): r.cos
        for r in S.neardup_pairs(emb, threshold=0.45).collect()
    }
    assert exact, "threshold too high: oracle found no pairs"
    assert blocked == exact


def test_neardup_plan_not_nested_loop(spark, sf_small):
    """llm_emb_neardup must not plan a BroadcastNestedLoopJoin (the
    O(n²) row-explosion the blocked form replaces)."""
    emb = load(spark, sf_small, "embeddings")
    plan = S.neardup_pairs(emb)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_redaction_on_planted_pii(spark):
    """The corpus has no PII (the registered query pins the expression
    chain cross-engine); this is the behavioral check on planted PII."""
    from real_time_event_streaming_pipeline_spark.operators.text import (
        pii_counts,
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or 555-123-4567 now"),
            (2, "ssn 123-45-6789 from host 192.168.0.1"),
            (3, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id", *pii_counts(F.col("text")), redact_pii(F.col("text")).alias("red")
        ).collect()
    }
    assert (out[1].n_email, out[1].n_phone) == (1, 1)
    assert out[1].red == "contact <pii:email> or <pii:phone> now"
    assert (out[2].n_ssn, out[2].n_ipv4) == (1, 1)
    assert out[2].red == "ssn <pii:ssn> from host <pii:ipv4>"
    # ssn is redacted as ssn, not mistaken for a phone number
    assert out[2].n_phone == 0
    assert out[3].red == out[3].text if hasattr(out[3], "text") else True
    assert (out[3].n_email, out[3].n_ssn, out[3].n_phone, out[3].n_ipv4) == (0, 0, 0, 0)


def test_emb_quantize_roundtrip_error_bound(spark, sf_small):
    """int8 quantization invariants: q in [-127, 127], reconstruction
    error <= scale/2 + float32-read slack, scale = max|x|/127."""
    from real_time_event_streaming_pipeline_spark.plans.llmdata import q_emb_quantize

    rows = q_emb_quantize(spark, sf_small).collect()
    assert rows
    for r in rows:
        # q crosses the verification boundary as a comma-joined string
        assert all(-127 <= int(v) <= 127 for v in r.q.split(","))
        # floor(x/s + .5) is within half a quantization step
        assert r.max_err <= r.scale / 2 + 1e-12
        assert r.scale >= 0


def test_seq_packing_invariants(spark, sf_small):
    """Packing layout invariants: within a shard, each doc starts
    where the previous ended (concat), pack_offset < target, and
    pack_id is the window the doc STARTS in."""
    from real_time_event_streaming_pipeline_spark.plans.curation import (
        _PACK_TARGET_TOKENS,
        q_seq_packing,
    )

    rows = q_seq_packing(spark, sf_small).collect()
    assert rows
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r.shard, r.doc_id)):
        expect = by_shard.get(r.shard, 0)
        assert r.start_offset == expect, f"gap in shard {r.shard} at doc {r.doc_id}"
        assert 0 <= r.pack_offset < _PACK_TARGET_TOKENS
        assert r.pack_id == r.start_offset // _PACK_TARGET_TOKENS
        by_shard[r.shard] = expect + r.n_tokens


def test_source_mixture_rebalances(spark, sf_small):
    """The smallest source keeps (almost) everything; every source's
    kept fraction tracks its sqrt-temperature rate."""
    from real_time_event_streaming_pipeline_spark.plans.curation import (
        q_source_mixture,
    )

    rows = q_source_mixture(spark, sf_small).collect()
    assert rows
    smallest = min(rows, key=lambda r: r.n_s)
    assert smallest.rate_ppm == 1_000_000  # sqrt(n_min/n_min) exactly
    assert smallest.n_kept == smallest.n_s
    for r in rows:
        assert r.rate_ppm <= 1_000_000
        # kept fraction within sampling noise of the target rate
        assert abs(r.n_kept / r.n_s - r.rate_ppm / 1e6) < 0.2


def test_dup_chunk_fraction_planted_and_bounds(spark, sf_small):
    """Planted near-identical docs must surface with high duplicated-
    chunk fractions; every row obeys 0 <= n_dup <= n_grams and the
    fraction is exactly n_dup/n_grams (one IEEE division)."""
    from real_time_event_streaming_pipeline_spark.plans.curation import (
        q_dup_chunk_fraction,
    )

    rows = q_dup_chunk_fraction(spark, sf_small).collect()
    docs_n = load(spark, sf_small, "documents").count()
    assert len(rows) == docs_n  # every doc reported, even shingle-free ones
    for r in rows:
        assert 0 <= r.n_dup <= r.n_grams
        expect = 0.0 if r.n_grams == 0 else r.n_dup / r.n_grams
        assert r.dup_frac == expect
    # the corpus has planted exact/near duplicates: at least one doc
    # should be (almost) entirely made of shared chunks
    assert max(r.dup_frac for r in rows) > 0.9


def test_unigram_logprob_matches_local_model(spark, sf_small):
    """Cross-check the distributed unigram LM against a driver-side
    model built from the same corpus: identical integer micro-nat
    sums for every document (the exact-unit discipline means there is
    no tolerance — equality is bitwise)."""
    import math
    from collections import Counter

    from real_time_event_streaming_pipeline_spark.plans.curation import (
        q_unigram_logprob,
    )

    docs = {r.doc_id: r.text.split(" ") for r in load(spark, sf_small, "documents").collect()}
    freq = Counter(t for toks in docs.values() for t in toks)
    total = sum(freq.values())
    mn = {t: int(round(math.log(c / total) * 1_000_000)) for t, c in freq.items()}
    for r in q_unigram_logprob(spark, sf_small).collect():
        toks = docs[r.doc_id]
        assert r.n_tokens == len(toks)
        assert r.logprob_micronats == sum(mn[t] for t in toks)
        assert r.avg_micronats == r.logprob_micronats / r.n_tokens


def test_semdedup_keeps_one_representative_per_cluster(spark, sf_small):
    """Every vector is assigned a component; exactly one vector per
    component is kept, and it is the minimum id (SemDeDup keep rule)."""
    from real_time_event_streaming_pipeline_spark.plans.llmdata import q_semdedup

    rows = q_semdedup(spark, sf_small).collect()
    total = load(spark, sf_small, "embeddings").count()
    assert len(rows) == total
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        kept = [r for r in members if r.keep]
        assert len(kept) == 1
        assert kept[0].vec_id == comp == min(r.vec_id for r in members)


def test_neardup_ivf_candidates_recall_pinned(spark, sf_small, sf_med):
    """The registered semdedup pair generator (IVF candidates + exact
    verify) must reproduce the exact blocked-GEMM pair set — recall
    1.0 on this corpus at every testdata sf — so the DuckDB oracle
    (exact all-pairs) stays valid for the candidate-based query."""
    for sf in (sf_small, sf_med):
        emb = load(spark, sf, "embeddings")
        exact = {
            (r.a_id, r.b_id, r.cos)
            for r in S.neardup_pairs(emb, threshold=0.45).collect()
        }
        cand = {
            (r.a_id, r.b_id, r.cos)
            for r in S.neardup_pairs_ivf_candidates(emb, threshold=0.45).collect()
        }
        assert cand == exact, f"candidate pair set diverged at {sf}"


def test_semdedup_registered_plan_is_candidate_bounded(spark, sf_small):
    """The registered llm_semdedup's pair stage must not run the FULL
    P² pair GEMM or a nested-loop join: its only Python seam is the
    per-CELL verify kernel over IVF candidates (FlatMapGroupsInPandas
    grouped by cell, never by the exact path's (gi, gj) block
    mapping). Asserted on the pair generator's own plan — the CC
    fixpoint checkpoints it away from the final query's plan — plus a
    nested-loop check on the full query."""
    from real_time_event_streaming_pipeline_spark.plans.llmdata import q_semdedup

    emb = load(spark, sf_small, "embeddings")
    pair_plan = (
        S.neardup_pairs_ivf_candidates(emb, threshold=0.45)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in pair_plan
    assert "CartesianProduct" not in pair_plan
    gemm_lines = [ln for ln in pair_plan.splitlines() if "FlatMapGroupsInPandas" in ln]
    assert gemm_lines, "candidate verify kernel missing from pair plan"
    assert all("cell" in ln for ln in gemm_lines)
    assert not any("gi" in ln and "gj" in ln for ln in gemm_lines)

    full_plan = (
        q_semdedup(spark, sf_small)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in full_plan
    assert "CartesianProduct" not in full_plan


def test_dup_span_removal_planted(spark):
    """Planted shared boilerplate: an 8-token span shared by two docs
    is removed from BOTH, unique spans survive, and a doc made
    entirely of shared spans cleans to empty."""
    import hashlib

    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    u1 = "u1 u2 u3 u4 u5 u6 u7 u8"
    u2 = "w1 w2 w3 w4 w5 w6 w7 w8"
    df = spark.createDataFrame(
        [
            (1, boiler + " " + u1, "s"),
            (2, boiler + " " + u2, "s"),
            (3, boiler, "s"),
        ],
        "doc_id long, text string, source string",
    )
    # drive the registered plan over the fixture via a patched load
    import real_time_event_streaming_pipeline_spark.plans.curation as cur

    orig = cur.load
    cur.load = lambda _s, _d, _n: df
    try:
        got = {r.doc_id: r for r in cur.q_dup_span_removal(spark, "unused").collect()}
    finally:
        cur.load = orig

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got[1].n_chunks == 2 and got[1].n_removed == 1
    assert got[1].clean_md5 == md5(u1)
    assert got[2].clean_md5 == md5(u2)
    assert got[3].n_chunks == 1 and got[3].n_removed == 1
    assert got[3].clean_md5 == md5("") and got[3].clean_len == 0


def test_length_outliers_matches_numpy_and_planted(spark, sf_small):
    """The histogram-based exact median/MAD must equal numpy's, and a
    planted extreme-length doc must flag as an outlier while typical
    docs do not."""
    import numpy as np

    import real_time_event_streaming_pipeline_spark.plans.curation as cur

    # real-corpus agreement with numpy
    rows = cur.q_length_outliers(spark, sf_small).collect()
    ns = np.array([r.n_tokens for r in rows], dtype=np.float64)
    med = np.median(ns)
    mad = np.median(np.abs(ns - med))
    assert rows[0].med == med
    assert rows[0].mad == mad
    want = np.abs(ns - med) > 3 * 1.4826 * mad
    got = np.array([r.is_outlier for r in rows])
    assert (got == want).all()

    # planted fixture: one absurdly long doc among uniform ones
    df = spark.createDataFrame(
        [(i, "w " * 50, "s") for i in range(20)] + [(99, "w " * 5000, "s")],
        "doc_id long, text string, source string",
    )
    orig = cur.load
    cur.load = lambda _s, _d, _n: df
    try:
        planted = {r.doc_id: r.is_outlier for r in cur.q_length_outliers(spark, "x").collect()}
    finally:
        cur.load = orig
    assert planted[99] is True
    assert sum(planted.values()) == 1


def test_pack_materialize_covers_shards_exactly(spark, sf_small):
    """Materialized packs partition each shard's docs exactly: per
    shard, pack token sums add up to the shard total, every pack has
    at least one doc, and pack ids are the dense windows the layout
    promised (max pack_id == floor((shard_tokens - last_doc)/target)
    bound; re-run is deterministic)."""
    import real_time_event_streaming_pipeline_spark.plans.curation as cur

    rows = cur.q_pack_materialize(spark, sf_small).collect()
    layout = cur.q_seq_packing(spark, sf_small).collect()
    assert rows and all(r.n_docs >= 1 for r in rows)

    shard_tokens_from_packs: dict[int, int] = {}
    for r in rows:
        shard_tokens_from_packs[r.shard] = shard_tokens_from_packs.get(r.shard, 0) + r.pack_tokens
    shard_tokens_from_layout: dict[int, int] = {}
    for r in layout:
        shard_tokens_from_layout[r.shard] = shard_tokens_from_layout.get(r.shard, 0) + r.n_tokens
    assert shard_tokens_from_packs == shard_tokens_from_layout

    again = {(r.shard, r.pack_id): r.pack_md5 for r in cur.q_pack_materialize(spark, sf_small).collect()}
    assert {(r.shard, r.pack_id): r.pack_md5 for r in rows} == again


def test_corpus_build_macro_stages_consistent(spark, sf_small):
    """llm_corpus_build (VERDICT r4 #7): the staged gate→dedup→
    semdedup→packing composition emits each survivor exactly once,
    never resurrects a dropped doc, and lays out per-shard offsets
    with no gaps (cumsum contiguity)."""
    from real_time_event_streaming_pipeline_spark.plans.filters import gopher_rules_df
    from real_time_event_streaming_pipeline_spark.plans.llmdata import (
        load,
        q_corpus_build,
    )

    out = q_corpus_build(spark, sf_small)
    rows = out.collect()
    assert rows
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids))  # each survivor exactly once

    docs = load(spark, sf_small, "documents")
    passing = {
        r.doc_id for r in gopher_rules_df(docs).filter("passes").collect()
    }
    assert set(ids) <= passing  # nothing un-gated leaks through
    assert len(ids) < docs.count()  # the stages actually dropped docs

    # packing contiguity: within a shard, offsets are the exact cumsum
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r.shard, r.doc_id)):
        expect = by_shard.get(r.shard, 0)
        assert r.start_offset == expect, (r.shard, r.doc_id)
        assert r.pack_id == r.start_offset // 256
        assert r.pack_offset == r.start_offset % 256
        by_shard[r.shard] = expect + r.n_tokens


def test_calibrated_threshold_engine_parity(spark, sf_small):
    """calibrate_null_threshold (the Spark face) and its Spark-free
    oracle replica (calibrate_null_threshold_py — DuckDB scan +
    md5-hex sort + the SAME sequential fold) must derive the
    BIT-IDENTICAL operating point: the replica's value is what the
    generator inlines into the semdedup SQL twins as a literal
    (ADVICE r6 — no cross-engine aggregation fold remains), so any
    divergence here is exactly the red-flip the oracle would show."""
    emb = load(spark, sf_small, "embeddings")
    t_spark = S.calibrate_null_threshold(emb, floor=0.45)
    t_replica = S.calibrate_null_threshold_py(sf_small, floor=0.45)
    assert t_spark == t_replica
    assert t_spark >= 0.45  # floored at the user parameter
    # and the registered oracle SQL carries that literal verbatim
    from real_time_event_streaming_pipeline_spark.plans.llmdata import _semdedup_sql

    assert repr(t_replica) in _semdedup_sql(sf_small)


def test_calibrated_threshold_separates_signal_from_null(spark):
    """The r5 soak failure in miniature, then the fix: on pure-noise
    embeddings a FIXED 0.45 threshold admits an n²-growing random pair
    tail, while the calibrated threshold keeps the expected noise-pair
    count O(1) at any n — AND planted near-duplicates (real signal,
    cos ≈ 0.98) stay above it and are still found."""
    import numpy as np

    rng = np.random.default_rng(7)
    n, d = 1500, 64
    X = rng.standard_normal((n, d))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    # plant 5 genuine near-duplicates: vector n+i ≈ vector i
    planted = []
    extra = []
    for i in range(5):
        v = X[i] + 0.1 * rng.standard_normal(d)
        v /= np.linalg.norm(v)
        extra.append(v)
        planted.append((i, n + i))
    X = np.vstack([X, np.array(extra)])
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )

    thr = S.calibrate_null_threshold(emb, floor=0.45)
    # fixed 0.45 floods: the random tail at n=1505 crosses it
    fixed_pairs = S.neardup_pairs(emb, threshold=0.45).count()
    planted_found = {
        (r.a_id, r.b_id)
        for r in S.neardup_pairs(emb, threshold=thr).collect()
    }
    assert 0.45 < thr < 0.9  # above the floor, below the signal
    assert fixed_pairs > 10 * len(planted)  # the noise flood is real
    assert planted_found == {(a, b) for a, b in planted}  # signal only


def test_calibrated_threshold_rises_with_n(spark):
    """The operating point must scale like the expected null maximum:
    strictly higher at 4× the corpus size (same generator), which is
    exactly what keeps the pair set signal-only as the corpus grows."""
    import numpy as np

    rng = np.random.default_rng(11)

    def mk(n):
        X = rng.standard_normal((n, 64))
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        return spark.createDataFrame(
            [(int(i), [float(x) for x in X[i]]) for i in range(n)],
            "vec_id long, embedding array<float>",
        )

    t_small = S.calibrate_null_threshold(mk(400), floor=0.0)
    t_big = S.calibrate_null_threshold(mk(1600), floor=0.0)
    assert t_big > t_small > 0.4  # ~mu + sqrt(2 ln pairs) * 0.125


def test_assign_cells_kernel_bitwise_parity_with_expression(spark, sf_small):
    """The Arrow assignment kernel must produce EXACTLY the (id, cell)
    MEMBERSHIP of the nearest_cells expression path — same
    dimension-at-a-time float64 fold, same (−dot, cell id) tie rule at
    the n_probe boundary — on real testdata AND adversarial random
    vectors (including exact duplicate vectors, which force dot ties).
    Membership (not emission order) is the contract since r9: the
    kernel re-attaches vectors through an equi-join (vectors no longer
    cross Arrow n_probe×), and its only consumer groups by cell — no
    downstream plan reads an order. Each (id, cell) must still appear
    exactly once."""
    import numpy as np

    from pyspark.sql import functions as F
    from real_time_event_streaming_pipeline_spark.operators.similarity import (
        assign_cells_kernel,
        nearest_cells,
        sample_centroids,
    )

    rng = np.random.default_rng(5)
    X = rng.standard_normal((300, 64))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    X[50] = X[10]  # exact duplicates: identical dots to every centroid
    X[51] = X[10]
    dup_emb = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    for emb in (load(spark, sf_small, "embeddings"), dup_emb):
        for k, n_probe in ((16, 4), (64, 10)):
            cents = sample_centroids(emb, k)
            src = emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_vec"))
            expr = src.select(
                "_id",
                F.posexplode(nearest_cells(F.col("_vec"), cents, n_probe)["cell"])
                .alias("rk", "cell"),
            )
            kern = assign_cells_kernel(src, cents, n_probe)
            want = {(r._id, r.cell) for r in expr.collect()}
            got_rows = kern.collect()
            got = [(r._id, r.cell) for r in got_rows]
            assert len(got) == len(set(got))  # each membership exactly once
            assert set(got) == want


def test_h60_hash_is_engine_portable(spark):
    """The md5-60bit base hash (`dedup._h60`) underpins every bitwise
    minhash/simhash oracle: pin that Spark and DuckDB produce the
    IDENTICAL integer for the same input, including edge inputs (empty
    string, unicode, long text). A drift here would silently turn the
    whole LSH oracle family red."""
    import duckdb

    samples = ["", "a", "the quick brown", "naïve café ünïcode", "x" * 10_000]
    got = (
        spark.createDataFrame([(s,) for s in samples], "s string")
        .select(D._h60(F.col("s")).alias("h"))
        .collect()
    )
    con = duckdb.connect()
    for s, row in zip(samples, got):
        want = con.execute(
            "SELECT CAST(('0x' || substr(md5(?), 1, 15)) AS BIGINT)", [s]
        ).fetchone()[0]
        assert row.h == want, s


def test_assign_cells_kernel_carries_id_type(spark):
    """The kernel's output schema must carry the INPUT id type — it
    replaced an expression path that worked for any id, so a string
    doc_id (the documents-table convention elsewhere) must survive the
    Arrow round-trip instead of crashing on a hardcoded `long`."""
    vecs = [("doc-%02d" % i, [float((i * 7 + j) % 5) - 2.0 for j in range(4)])
            for i in range(12)]
    df = spark.createDataFrame(vecs, "_id string, _vec array<double>")
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
             (2, [0.0, 0.0, 1.0, 0.0])]
    out = S.assign_cells_kernel(df, cents, n_probe=2)
    assert dict(out.dtypes)["_id"] == "string"
    rows = out.collect()
    assert len(rows) == 12 * 2
    # parity with the expression path on the same string-id input
    expr = df.select(
        F.col("_id"),
        S.nearest_cells(F.col("_vec"), cents, 2).alias("nc"),
    ).select("_id", F.explode(F.col("nc.cell")).alias("cell"))
    assert {(r._id, r.cell) for r in rows} == {
        (r._id, r.cell) for r in expr.collect()
    }


def test_calibration_tolerates_dirty_vectors(spark, tmp_path):
    """A NULL or all-zeros embedding in the calibration sample must
    not crash the Python face (ZeroDivisionError/TypeError) NOR move
    it off the ORACLE REPLICA (calibrate_null_threshold_py, whose
    literal the SQL twin inlines) — both faces skip exactly the pairs
    where either side is null/zero-norm, and both fall back to the
    floor when no valid pair remains."""
    import glob
    import os
    import shutil

    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        if i == 3:
            v = None  # null embedding
        elif i == 5:
            v = [0.0] * 64  # zero-norm embedding
        else:
            x = rng.normal(size=64)
            v = [float(a) for a in x / np.linalg.norm(x)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def as_sf_dir(frame, name):
        # lay the frame out the way a testdata sf_dir looks, so the
        # Spark-free replica reads it through its normal path
        staged = str(tmp_path / f"{name}_stage")
        frame.coalesce(1).write.mode("overwrite").parquet(staged)
        d = str(tmp_path / name)
        os.makedirs(d, exist_ok=True)
        shutil.copy(
            glob.glob(os.path.join(staged, "part-*.parquet"))[0],
            os.path.join(d, "embeddings.parquet"),
        )
        return d

    t_spark = S.calibrate_null_threshold(df, floor=0.45)
    assert t_spark >= 0.45
    t_replica = S.calibrate_null_threshold_py(as_sf_dir(df, "dirty"), floor=0.45)
    assert t_spark == t_replica

    # tiny corpus (n < 3): both faces return the floor
    tiny = df.filter(F.col("vec_id") < 2)
    assert S.calibrate_null_threshold(tiny, floor=0.45) == 0.45
    assert (
        S.calibrate_null_threshold_py(as_sf_dir(tiny, "tiny"), floor=0.45) == 0.45
    )


def test_exact_median_ignores_nulls(spark):
    """NULL values drop out of the histogram walk (Python sorted()
    would raise on None) — matching the DuckDB oracle's quantile_cont,
    which ignores NULLs."""
    from real_time_event_streaming_pipeline_spark.plans.curation import _exact_median

    df = spark.createDataFrame(
        [(1,), (2,), (3,), (None,), (None,), (4,)], "v int"
    )
    assert _exact_median(df, "v") == 2.5


def test_assign_cells_kernel_duplicate_ids_emit_per_row(spark):
    """r9 ADVICE, closed by design change: the r9 equi-join re-attach
    silently cross-producted (assignments × vector rows) under a
    duplicated id. The r10 UDF+explode topology has no join — a
    duplicated id must emit each input row's OWN vector exactly
    n_probe times (the r8 per-row Arrow semantics, without its
    per-row Arrow cost)."""
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])]
    uniq = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 2)]) for i in range(8)],
        "_id long, _vec array<double>",
    )
    dup = uniq.union(spark.createDataFrame([(3, [9.0, 9.0])], "_id long, _vec array<double>"))
    rows = S.assign_cells_kernel(dup, cents, n_probe=2).collect()
    assert len(rows) == 9 * 2  # per input row, never (assignments × rows)
    # each duplicate row keeps ITS vector: the original id-3 row is
    # [0,1] (nearest cells 1 and 2, dot-1 tie) while its [9,9] twin is
    # nearest cells {2 (dot 18), 0 (dot-9 tie with 1 → smaller id)}
    id3 = sorted((r.cell, tuple(r._vec)) for r in rows if r._id == 3)
    assert id3 == [
        (0, (9.0, 9.0)),
        (1, (0.0, 1.0)),
        (2, (0.0, 1.0)),
        (2, (9.0, 9.0)),
    ]


def test_table_rows_metadata_recurses_and_rejects_empty(tmp_path, spark, sf_small):
    """r9 ADVICE: a Hive-partitioned/nested table layout has no
    top-level part files — the footer counter must recurse, and an
    empty directory must raise instead of returning 0 (a 0 silently
    flips corpus-size-routed queries onto their superlinear
    small-corpus paths)."""
    import pytest

    from real_time_event_streaming_pipeline_spark.catalog import (
        load,
        table_rows_metadata,
    )

    docs = load(spark, sf_small, "documents")
    n = docs.count()
    nested = tmp_path / "documents.parquet"
    docs.withColumn("pk", F.col("doc_id").substr(-1, 1)).write.partitionBy(
        "pk"
    ).parquet(str(nested))
    assert table_rows_metadata(str(tmp_path), "documents") == n

    (tmp_path / "orders.parquet").mkdir()
    with pytest.raises(FileNotFoundError, match="no .*parquet files"):
        table_rows_metadata(str(tmp_path), "orders")


def test_ngram_face_route_switch_and_lsh_twin(spark, sf_small):
    """r9 verdict #5: the registered llm_dedup_ngram_jaccard face now
    route-switches by corpus size like q_dedup_clusters. Pins: (a) the
    oracle callable picks the twin matching the route the query takes;
    (b) forcing the LSH route on the driver corpus produces EXACTLY
    the rows the LSH SQL twin computes (bitwise, both engines), so the
    soak-scale route stays oracle-checked; (c) on this margin-bearing
    corpus both routes agree."""
    import duckdb

    from real_time_event_streaming_pipeline_spark.plans.llmdata import (
        _NGRAM_JACCARD_SQL,
        _NGRAM_LSH_SWITCH,
        _ngram_jaccard_lsh_sql,
        _ngram_jaccard_oracle_sql,
        q_ngram_jaccard,
    )
    from real_time_event_streaming_pipeline_spark.catalog import table_rows_metadata

    n_docs = table_rows_metadata(sf_small, "documents")
    assert n_docs < _NGRAM_LSH_SWITCH  # driver corpora stay exact
    assert _ngram_jaccard_oracle_sql(sf_small) == _NGRAM_JACCARD_SQL

    exact = {tuple(map(str, r)) for r in q_ngram_jaccard(spark, sf_small).collect()}
    lsh = {
        tuple(map(str, r))
        for r in q_ngram_jaccard(spark, sf_small, pair_method="lsh").collect()
    }
    assert exact and lsh == exact

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_small}/documents.parquet'"
    )
    twin = {tuple(map(str, r)) for r in con.sql(_ngram_jaccard_lsh_sql()).fetchall()}
    assert twin == lsh


def test_ngram_route_resolved_once_per_process(tmp_path, sf_small):
    """r10 ADVICE #3: the route the query takes and the route its
    oracle twin takes must come from ONE resolution — a corpus
    rewritten between plan build and oracle resolution must not flip
    the oracle onto the other route."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_event_streaming_pipeline_spark.plans.llmdata import (
        _NGRAM_JACCARD_SQL,
        _NGRAM_LSH_SWITCH,
        clear_ngram_route_cache,
        resolved_ngram_route,
        _ngram_jaccard_oracle_sql,
    )

    sf = tmp_path / "corpus"
    sf.mkdir()
    shutil.copytree(
        os.path.join(sf_small, "documents.parquet"),
        sf / "documents.parquet",
    ) if os.path.isdir(os.path.join(sf_small, "documents.parquet")) else shutil.copy(
        os.path.join(sf_small, "documents.parquet"), sf / "documents.parquet"
    )
    clear_ngram_route_cache()
    assert resolved_ngram_route(str(sf)) == "exact"
    # grow the corpus past the switch IN PLACE — the memo must hold
    # the original resolution so the oracle stays on the query's route
    big = pa.table(
        {
            "doc_id": pa.array(range(_NGRAM_LSH_SWITCH + 1), type=pa.int64()),
            "text": pa.array(["x"] * (_NGRAM_LSH_SWITCH + 1)),
        }
    )
    target = sf / "documents.parquet"
    if target.is_dir():
        shutil.rmtree(target)
        target.mkdir()
        pq.write_table(big, target / "part-0.parquet")
    else:
        pq.write_table(big, target)
    assert resolved_ngram_route(str(sf)) == "exact"  # memoized, not re-read
    assert _ngram_jaccard_oracle_sql(str(sf)) == _NGRAM_JACCARD_SQL
    # the documented escape hatch re-resolves
    clear_ngram_route_cache()
    assert resolved_ngram_route(str(sf)) == "lsh"
    clear_ngram_route_cache()


def test_ivf_kernel_scheme_matches_expr_scheme(spark, sf_small):
    """r11 (r10 verdict #3): ivf_ann_topk's kernel scheme (Arrow
    two-stage assignment + grouped top-k) must emit EXACTLY the rows
    of the expression scheme at the same cell count — the assignment
    kernel is pinned bit-identical to nearest_cells, so the schemes
    may only differ in where the work runs."""
    emb = load(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    expr = {
        tuple(map(str, r))
        for r in S.ivf_ann_topk(
            emb, queries, k=5, n_centroids=16, order="md5h60"
        ).collect()
    }
    kern = {
        tuple(map(str, r))
        for r in S.ivf_ann_topk(
            emb, queries, k=5, n_centroids=16, order="md5h60", scheme="kernel"
        ).collect()
    }
    assert expr and kern == expr
    # r14: the bound-gated broadcast-semi-join probed-cell prune
    # (n_queries known → no driver collect; 5·4 ≤ 16//2 is FALSE, so
    # prune skipped — but an 8-probe call passes the gate): pin both
    # gate outcomes row-identical to the expr scheme
    kern_sj = {
        tuple(map(str, r))
        for r in S.ivf_ann_topk(
            emb, queries, k=5, n_centroids=16, order="md5h60",
            scheme="kernel", n_queries=5,
        ).collect()
    }
    assert kern_sj == expr
    kern_sj_1q = {
        tuple(map(str, r))
        for r in S.ivf_ann_topk(
            emb, queries.filter(F.col("vec_id") < 1), k=5, n_centroids=16,
            order="md5h60", scheme="kernel", n_queries=1,
        ).collect()
    }
    kern_1q = {
        tuple(map(str, r))
        for r in S.ivf_ann_topk(
            emb, queries.filter(F.col("vec_id") < 1), k=5, n_centroids=16,
            order="md5h60", scheme="kernel",
        ).collect()
    }
    assert kern_sj_1q and kern_sj_1q == kern_1q


def test_ivf_scaled_route_bitwise_vs_twin(spark, monkeypatch):
    """The scaled route end-to-end: force the corpus-size switch below
    sf0.1's 2000 vectors, so the registered face takes the
    scaled_cell_count kernel scheme, and pin it BITWISE against the
    callable oracle twin at the matching (regenerated) centroid count.
    This is the scaled-route analogue of the r10 ngram-LSH sf1 pin."""
    import duckdb

    from real_time_event_streaming_pipeline_spark.plans import llmdata as L

    sf_dir = "/root/testdata/sf0.1"  # 2000 vectors — over the patched switch
    monkeypatch.setattr(L, "_IVF_SCALED_SWITCH", 1000)
    L.clear_ivf_scheme_cache()
    try:
        scheme, k_cells = L.resolved_ivf_scheme(sf_dir)
        assert scheme == "scaled" and k_cells == S.scaled_cell_count(2000) == 64
        got = {
            tuple(map(str, r)) for r in L.q_emb_ann_ivf(spark, sf_dir).collect()
        }
        sql = L._emb_ann_ivf_sql(sf_dir)
        assert sql.count("\n    (") >= 64  # scaled literals, not 16
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
        )
        twin = {tuple(map(str, r)) for r in con.sql(sql).fetchall()}
        assert got and twin == got
    finally:
        L.clear_ivf_scheme_cache()


def test_ivf_scheme_resolved_once_and_occupancy_pins():
    """(a) The scheme memo mirrors the ngram-route discipline: one
    resolution per (process, sf_dir). (b) Sizing negative control: the
    scaled cell count holds occupancy bounded (~256, never >512 below
    the cap) where ANY fixed cell count's occupancy grows linearly —
    the measured sf30 failure mode of the old fixed-16 face."""
    for n in [20_000, 100_000, 600_000, 4_000_000]:
        k = S.scaled_cell_count(n)
        assert n / k <= 512, (n, k)          # scaled: bounded occupancy
        assert n / 16 > 1000                  # fixed-16: already blown at 20k
    assert S.scaled_cell_count(4_200_000 * 2) == 16384  # cap binds
    from real_time_event_streaming_pipeline_spark.plans import llmdata as L

    from tests.conftest import SF_SMALL

    L.clear_ivf_scheme_cache()
    got = L.resolved_ivf_scheme(SF_SMALL)
    assert got == ("fixed16", 16)
    # memoized: a second call must not re-read footers (poison the
    # reader to prove it)
    import real_time_event_streaming_pipeline_spark.plans.llmdata as mod

    orig = mod.table_rows_metadata
    mod.table_rows_metadata = lambda *a, **k: (_ for _ in ()).throw(AssertionError)
    try:
        assert L.resolved_ivf_scheme(SF_SMALL) == got
    finally:
        mod.table_rows_metadata = orig
        L.clear_ivf_scheme_cache()


def test_df_cap_profile_counters(spark):
    """r10 verdict #4 / r12 verdict #5: the stop-shingle df-cap
    surfaces its truncation through ngram_cap_profile — the single
    direct-aggregate read-out path — and the counters must match a
    by-hand count on a corpus engineered to cap one shingle (the same
    literals the retired riding-Observation path asserted)."""
    # 5 docs all sharing the trigram "a b c"; cap=3 drops it, while
    # "d e f" (2 docs) survives
    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e f"),
        (3, "a b c x y z"),
        (4, "a b c p q r"),
        (5, "a b c m n o"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = D.ngram_cap_profile(docs, k=3, max_doc_freq=3)
    # distinct shingles: per-doc 4 shingles each, "a b c" shared by all
    # 5 docs (df=5 > 3 -> capped); every other shingle df <= 2
    assert got["capped_shingles"] == 1
    assert got["capped_instances"] == 5
    assert got["n_shingles"] > 1 and got["n_instances"] > 5


def test_contamination_cap_profile(spark, sf_med):
    """r12 verdict #5: contamination_cap_profile is the single
    read-out path for the contamination cap counters; values must be
    internally consistent and pinned EQUAL to what the retired
    riding-Observation path reported at this sf (captured before
    retirement: cross_shingles=184, n_instances=368, nothing
    capped on the sf0.01 driver corpus)."""
    from real_time_event_streaming_pipeline_spark.plans.curation import (
        contamination_cap_profile,
    )

    got = contamination_cap_profile(spark, sf_med)
    assert got == {
        "cross_shingles": 184,
        "capped_shingles": 0,
        "n_instances": 368,
        "capped_instances": 0,
    }


def test_cap_profiles_match_retired_observation_path_sf01(spark):
    """r12 verdict #5 'pinned equal to the old path' gate: the
    direct-aggregate profiles must reproduce the riding-Observation
    counters captured at sf0.1 immediately before the rider was
    retired (ngram: n_shingles=27213, n_instances=260388; contam:
    cross_shingles=1719, n_instances=3473; zero capped at this sf)."""
    from real_time_event_streaming_pipeline_spark.catalog import load
    from real_time_event_streaming_pipeline_spark.plans.curation import (
        contamination_cap_profile,
    )

    sf = "/root/testdata/sf0.1"
    got = D.ngram_cap_profile(load(spark, sf, "documents"))
    assert got == {
        "n_shingles": 27213,
        "capped_shingles": 0,
        "n_instances": 260388,
        "capped_instances": 0,
    }
    got = contamination_cap_profile(spark, sf)
    assert got == {
        "cross_shingles": 1719,
        "capped_shingles": 0,
        "n_instances": 3473,
        "capped_instances": 0,
    }


def test_contamination_presize_routes_agree(spark, tmp_path, monkeypatch):
    """r12: the contamination presize route (cap applied before the
    per-split lists materialize) must emit the IDENTICAL output as
    the r11 collect-then-filter shape — on a planted corpus whose
    hottest 5-gram blows the train-side cap, so the capped branch is
    exercised, not just clean data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_event_streaming_pipeline_spark.plans import llmdata as L
    from real_time_event_streaming_pipeline_spark.plans.curation import (
        contamination_cap_profile,
        q_contamination,
    )

    # 400 docs all sharing one boilerplate 5-gram (df >> 100 on the
    # train split) plus per-doc distinct tails that cross splits at
    # small df
    hot = "alpha beta gamma delta epsilon"
    # tails with small moduli so the hot+tail mixed 5-grams recur at
    # df ≈ 80 (cross-split, under the 100 cap → they ARE the output)
    rows = [(i, f"{hot} tail{i % 5} tail{(i + 1) % 5} end{i % 3} fin{i % 2}")
            for i in range(400)]
    sf = tmp_path / "corpus"
    sf.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": [r[1] for r in rows],
        }),
        sf / "documents.parquet",
    )
    out = {}
    for route in (True, False):
        monkeypatch.setattr(L, "resolved_bucket_presize", lambda d, _r=route: _r)
        out[route] = {
            tuple(map(str, r))
            for r in q_contamination(spark, str(sf)).collect()
        }
    assert out[True] == out[False]
    # the profile read-out (route-independent by construction, r12
    # verdict #5) confirms the planted hot shingle really blew the cap
    prof = contamination_cap_profile(spark, str(sf))
    assert prof["capped_shingles"] > 0


def test_asym_pairing_recall_on_planted_margin(spark):
    """SCALING.md item 13 landed (r11): the asymmetric home-vs-probe
    candidate rule must find EXACTLY the exact path's pair set — same
    (a, b, cos) tuples bitwise — on the planted-margin fixture at the
    SemDeDup operating regime (seeded duplicates at cos≈0.93,
    threshold 0.9, isotropic noise floor ≈0.45). This pin licensed
    switching the registered semdedup faces to the asymmetric
    generator — `llm_semdedup` flipped in r11 (and was externally
    hash-verified that same round: it sat in the live r11 window);
    the survivors face and the streaming index follow in r12."""
    import numpy as np

    rng = np.random.default_rng(41)
    n, dim = 3000, 64
    V = rng.standard_normal((n, dim))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in V[i]]) for i in range(n)]
    # every 10th vector gets a planted near-dup at cos ≈ 1/sqrt(1.16)
    nid = n
    for i in range(0, n, 10):
        g = rng.standard_normal(dim)
        g /= np.linalg.norm(g)
        w = V[i] + 0.4 * g  # cos(v, w) ≈ 1/sqrt(1.16) ≈ 0.93
        w /= np.linalg.norm(w)
        rows.append((nid, [float(x) for x in w]))
        nid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        tuple(map(str, r)) for r in S.neardup_pairs(emb, threshold=0.9).collect()
    }
    assert len(exact) >= n // 10  # the plant is present
    asym = {
        tuple(map(str, r))
        for r in S.neardup_pairs_ivf_asym(emb, threshold=0.9, n_rows=len(rows)).collect()
    }
    assert asym == exact
    # and the symmetric candidate path agrees on the same fixture
    sym = {
        tuple(map(str, r))
        for r in S.neardup_pairs_ivf_candidates(
            emb, threshold=0.9, n_rows=len(rows)
        ).collect()
    }
    assert sym == exact


def test_asym_pairing_subset_and_bitwise_at_noise_threshold(spark, sf_med):
    """On the driver corpus at a below-noise threshold (dense pair
    set): every asym pair must carry the exact path's bitwise cos, and
    the asym set must be a subset (candidate rule only restricts)."""
    emb = load(spark, sf_med, "embeddings")
    exact = {
        (r.a_id, r.b_id): r.cos for r in S.neardup_pairs(emb, threshold=0.4).collect()
    }
    asym = {
        (r.a_id, r.b_id): r.cos
        for r in S.neardup_pairs_ivf_asym(emb, threshold=0.4, n_rows=500).collect()
    }
    assert asym  # non-trivial candidate set
    assert set(asym) <= set(exact)
    assert all(exact[k] == v for k, v in asym.items())


def test_lsh_scaled_route_bitwise_vs_twin(spark, tmp_path):
    """r11: the LSH face's corpus-scaled plane route, end-to-end
    bitwise. A synthetic 20k-vector corpus sits exactly at the switch:
    the resolver must pick ('scaled', 7) and the regenerated 7-plane
    twin must reproduce every row bitwise. (At 7 planes = 128 buckets
    the probed-bucket corpus pruning is deliberately SKIPPED — the
    `(1 << n_planes) >= _LSH_PRUNE_MIN_BUCKETS` gate in lsh_ann_topk
    — so this pin covers the scaled-signature path, not the pruning
    branch; that branch is pinned by
    test_lsh_probed_bucket_prune_is_result_neutral below.)"""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_event_streaming_pipeline_spark.plans import llmdata as L

    rng = np.random.default_rng(53)
    n = 20_000
    V = rng.standard_normal((n, 64))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    sf = tmp_path / "corpus"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), type=pa.int64()),
                "embedding": pa.array([[float(x) for x in v] for v in V],
                                      type=pa.list_(pa.float64())),
            }
        ),
        sf / "embeddings.parquet",
    )
    L.clear_lsh_planes_cache()
    try:
        scheme, planes = L.resolved_lsh_planes(str(sf))
        assert scheme == "scaled" and planes == S.scaled_plane_count(n) == 7
        got = {
            tuple(map(str, r)) for r in L.q_emb_ann_lsh(spark, str(sf)).collect()
        }
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
        )
        twin = {
            tuple(map(str, r))
            for r in con.sql(L._emb_ann_lsh_sql(str(sf))).fetchall()
        }
        assert got and twin == got
    finally:
        L.clear_lsh_planes_cache()


def test_lsh_probed_bucket_prune_is_result_neutral(spark, monkeypatch):
    """r12 (r11 ADVICE #3): the probed-bucket corpus pruning branch —
    gated at >= _LSH_PRUNE_MIN_BUCKETS buckets — must be a pure
    optimization: with 8 planes (256 buckets, gate ON) and few enough
    queries that the probed set is under half the buckets, the top-k
    result must be row-identical to the same call with pruning
    disabled. Corpus rows in unprobed buckets can never reach a query
    group, so the filter only removes shuffle volume."""
    import numpy as np

    rng = np.random.default_rng(77)
    n, dim = 2000, 64
    V = rng.standard_normal((n, dim))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(10_000 + j, [float(x) for x in V[j * 7]]) for j in range(3)],
        "vec_id long, embedding array<double>",
    )
    kw = dict(k=5, n_planes=8, dim=dim, multiprobe=2)
    pruned = {tuple(map(str, r)) for r in S.lsh_ann_topk(emb, queries, **kw).collect()}
    # r14: the bound-gated broadcast-semi-join prune (n_queries known,
    # no driver collect) must also be row-identical
    pruned_sj = {
        tuple(map(str, r))
        for r in S.lsh_ann_topk(emb, queries, n_queries=3, **kw).collect()
    }
    monkeypatch.setattr(S, "_LSH_PRUNE_MIN_BUCKETS", 1 << 60)
    full = {tuple(map(str, r)) for r in S.lsh_ann_topk(emb, queries, **kw).collect()}
    assert pruned and pruned == full
    assert pruned_sj == full


def test_lsh_plane_count_pins():
    """Sizing negative control (the IVF occupancy-pin analogue): the
    scaled plane count holds bucket occupancy ~256 (never > 512 below
    the cap) where the fixed 6-plane scheme's occupancy grows with n;
    driver corpora stay on the historical fixed route."""
    for n in (20_000, 100_000, 600_000, 10_000_000):
        p = S.scaled_plane_count(n)
        assert n / (1 << p) <= 512, (n, p)
        assert n / 64 > 256  # fixed-6: occupancy already blown at 20k
    assert S.scaled_plane_count(100) == 6      # floor
    assert S.scaled_plane_count(10**9) == 16   # cap
    from real_time_event_streaming_pipeline_spark.plans import llmdata as L

    L.clear_lsh_planes_cache()
    assert L.resolved_lsh_planes("/root/testdata/sf0.01") == ("fixed6", 6)
    # the fixed-route twin is byte-identical to the historical 6-plane SQL
    assert L._emb_ann_lsh_sql("/root/testdata/sf0.01") == L._emb_ann_lsh_sql(
        None, n_planes=6
    )
    L.clear_lsh_planes_cache()


def test_lsh_signature_kernel_matches_expression(spark, sf_med):
    """r11: the Arrow signature kernel must produce the IDENTICAL
    bucket id as the literal-folded expression for every vector (the
    dots fold dimension-at-a-time in f64 on both paths, so the sign
    bits cannot differ) — on real data and on adversarial near-zero
    dots."""
    from pyspark.sql import functions as _F

    emb = load(spark, sf_med, "embeddings")
    for n_planes in (6, 12):
        planes = S._hyperplanes(64, n_planes)
        expr = {
            (r["vec_id"], r["b"])
            for r in emb.select(
                "vec_id", S.lsh_signature(_F.col("embedding"), planes).alias("b")
            ).collect()
        }
        kern = {
            (r["vec_id"], r["b"])
            for r in emb.select(
                "vec_id",
                S.lsh_signature_kernel(planes)(_F.col("embedding")).alias("b"),
            ).collect()
        }
        assert kern == expr, n_planes


def test_pq_encode_kernel_matches_expression(spark, sf_med):
    """r11: the Arrow PQ encoder must emit the IDENTICAL (codes, nrm)
    rows as the literal-expression path — scores replay the same
    lit(sum c²) − 2·fold arithmetic and the same lowest-code tie rule
    — at two codebook shapes."""
    emb = load(spark, sf_med, "embeddings")
    for m, n_codes in ((4, 16), (8, 8)):
        books = S.train_pq_codebooks(emb, m=m, n_codes=n_codes)
        kern = {
            (r["n_id"], tuple(r["codes"]), r["nrm"])
            for r in S.pq_encode(emb, books).collect()
        }
        expr = {
            (r["n_id"], tuple(r["codes"]), r["nrm"])
            for r in S.pq_encode(emb, books, impl="expr").collect()
        }
        assert kern == expr, (m, n_codes)


def test_nearest_cells_sql_string_matches_column_form(spark, sf_small):
    """r14: nearest_cells' parsed-SQL fast path (column-name input —
    one py4j round trip instead of ~11k for 16x64 centroids) must emit
    BITWISE the rows of the Column-object form: same double literals
    (repr round-trips IEEE; the SQL parser reads them with Java's
    Double.parseDouble), same fold, same struct sort."""
    emb = load(spark, sf_small, "embeddings")
    cents = S.sample_centroids(emb, 8, order="md5h60")
    for n in (1, 3):
        a = [
            tuple(map(str, r))
            for r in emb.select(
                "vec_id", S.nearest_cells("embedding", cents, n).alias("cells")
            ).collect()
        ]
        b = [
            tuple(map(str, r))
            for r in emb.select(
                "vec_id", S.nearest_cells(F.col("embedding"), cents, n).alias("cells")
            ).collect()
        ]
        assert a and a == b


@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_nearest_cells_non_finite_centroid_fails_loudly(spark, bad):
    """A NaN/Inf centroid component must raise a ValueError naming the
    cell at plan build — on the SQL-string path it used to surface
    later as an opaque parse error on ``nanD``/``infD``."""
    cents = [(0, [1.0, 0.0]), (7, [0.5, bad])]
    with pytest.raises(ValueError, match="cell 7"):
        S.nearest_cells("embedding", cents, 1)
    with pytest.raises(ValueError, match="cell 7"):
        S.nearest_cells(F.col("embedding"), cents, 1)
