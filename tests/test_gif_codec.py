"""Pure-stdlib GIF codec (operators/gif.py) and the real animated
decode path built on it: byte-exact LZW round-trips across width
boundaries and the 12-bit dictionary reset, the engineered tail case
where the decoder's final table append grows the width EOI is read at,
interlace, animation framing, sub-block reassembly, loud failure on
corruption, and the registered query's closed-form contract."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from real_time_event_streaming_pipeline_spark.operators.gif import (
    decode_gif,
    encode_gif,
    grayscale_palette,
    interlace_order,
    lzw_decode,
    lzw_encode,
)

# ---------------------------------------------------------------------------
# raw LZW
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("alpha", [2, 16, 256])
def test_lzw_roundtrip_random(alpha):
    rng = np.random.default_rng(alpha)
    for n in [0, 1, 2, 3, 17, 255, 256, 257, 511, 513, 5000, 20000]:
        data = rng.integers(0, alpha, n).astype(np.uint8).tobytes()
        assert lzw_decode(lzw_encode(data), 8) == data


def test_lzw_tail_width_boundary():
    """The classic LZW tail desync: with a single repeated byte,
    emission K leaves the decoder's table at 257+K entries, so picking
    K around a power of two lands the FINAL data code's table append
    exactly on a width boundary — the decoder then reads EOI one bit
    wider than a naive encoder writes it. The mirror-model encoder
    must round-trip every length through the boundary."""
    for base in (512, 1024):
        K = base - 258
        L = K * (K + 1) // 2  # 1+2+...+K repeated-byte phrase lengths
        for n in range(L - 12, L + 13):
            data = b"a" * n
            assert lzw_decode(lzw_encode(data), 8) == data, n


def test_lzw_dictionary_cap_reset():
    """High-entropy stream long enough to fill all 4096 codes: the
    encoder must emit CLEAR and restart, the decoder must follow."""
    rng = np.random.default_rng(42)
    data = rng.integers(0, 256, 60000).astype(np.uint8).tobytes()
    assert lzw_decode(lzw_encode(data), 8) == data


def test_lzw_kwkwk_case():
    # constant input produces the code-not-yet-in-table pattern
    # immediately (aa -> code referencing the entry being defined)
    for n in (2, 3, 4, 100):
        data = b"\x09" * n
        assert lzw_decode(lzw_encode(data), 8) == data


def test_lzw_truncation_detected():
    enc = lzw_encode(b"abcabcabc" * 30)
    with pytest.raises(ValueError):
        lzw_decode(enc[: len(enc) // 2], 8, expected=270)


# ---------------------------------------------------------------------------
# GIF container
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize("shape,nframes", [((16, 16), 1), ((5, 7), 4), ((23, 9), 6), ((1, 1), 1), ((64, 64), 3)])
def test_gif_roundtrip(shape, nframes, interlace):
    h, w = shape
    frames = [
        ((i * 31 + np.arange(h * w) * 5) % 256).astype(np.uint8).reshape(h, w)
        for i in range(nframes)
    ]
    dec = decode_gif(encode_gif(frames, interlace=interlace, delay_cs=7))
    assert (dec["width"], dec["height"]) == (w, h)
    assert dec["version"] == ("89a" if nframes > 1 else "87a")
    assert len(dec["frames"]) == nframes
    for got, exp in zip(dec["frames"], frames):
        assert (got == exp).all()
    if nframes > 1:
        assert dec["delays_cs"] == [7] * nframes
    assert (dec["palette"] == grayscale_palette()).all()


def test_gif_subblock_boundaries():
    # payload long enough to span several 255-byte sub-blocks
    rng = np.random.default_rng(3)
    frame = rng.integers(0, 256, (48, 48), dtype=np.uint8)
    blob = encode_gif([frame])
    assert len(blob) > 2 * 255
    assert (decode_gif(blob)["frames"][0] == frame).all()


def test_interlace_order_is_the_spec_permutation():
    order = interlace_order(10)
    assert order.tolist() == [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]
    # a permutation for any height
    for h in (1, 2, 7, 16, 33):
        assert sorted(interlace_order(h).tolist()) == list(range(h))


def test_gif_corruption_detected():
    frame = np.arange(64, dtype=np.uint8).reshape(8, 8)
    blob = encode_gif([frame])
    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF" + blob[7:])
    with pytest.raises(ValueError):
        decode_gif(blob[:-1])  # missing trailer
    with pytest.raises(ValueError):
        decode_gif(blob[:20])  # truncated mid-palette/descriptor


def test_gif_unknown_extension_skipped():
    """Decoder must sub-block-walk extensions it does not know (a
    comment extension here) rather than desyncing."""
    frame = np.arange(64, dtype=np.uint8).reshape(8, 8)
    blob = bytearray(encode_gif([frame]))
    # splice a comment extension right before the image separator
    img_at = blob.index(0x2C, 13 + 768)
    comment = bytes([0x21, 0xFE, 5]) + b"hello" + bytes([0])
    patched = bytes(blob[:img_at]) + comment + bytes(blob[img_at:])
    assert (decode_gif(patched)["frames"][0] == frame).all()


def test_gif_index_outside_palette_detected():
    """A frame referencing palette slots beyond the table size must
    raise: build a 4-entry-GCT stream by hand around a valid LZW
    payload with an out-of-range index."""
    # min code size 3 makes literal 7 a VALID LZW code while the
    # global color table only holds 4 entries
    payload = lzw_encode(bytes([0, 1, 2, 7]), 3)
    blob = bytearray(b"GIF87a")
    blob.extend(struct.pack("<HHBBB", 2, 2, 0x81, 0, 0))  # GCT size 2 -> 4 entries
    blob.extend(bytes(12))  # 4 x RGB
    blob.append(0x2C)
    blob.extend(struct.pack("<HHHHB", 0, 0, 2, 2, 0))
    blob.append(3)  # min code size
    blob.append(len(payload))
    blob.extend(payload)
    blob.append(0)
    blob.append(0x3B)
    with pytest.raises(ValueError, match="outside color table"):
        decode_gif(bytes(blob))


# ---------------------------------------------------------------------------
# the registered query's closed-form contract, locally
# ---------------------------------------------------------------------------


def test_gif_frame_metrics_matches_formula(spark, sf_small):
    from real_time_event_streaming_pipeline_spark.catalog import load
    from real_time_event_streaming_pipeline_spark.operators.multimodal import (
        GIF_FRAMES,
        GIF_SIDE,
        gif_frame_metrics,
    )

    docs = load(spark, sf_small, "documents").limit(50)
    rows = gif_frame_metrics(docs).collect()
    assert len(rows) == 50 * 3  # every 2nd of 6 frames
    i = np.arange(GIF_SIDE * GIF_SIDE, dtype=np.int64)
    for r in rows:
        pix = (r.doc_id * 9 + r.frame_idx * 17 + i * 5) % 256
        assert (r.width, r.height, r.n_frames) == (GIF_SIDE, GIF_SIDE, GIF_FRAMES)
        assert r.delay_cs == 4
        assert r.first_px == int(pix[0])
        assert r.weighted_sum == int(((i + 1) * pix).sum())


# ---------------------------------------------------------------------------
# property tests (pure-Python, no Spark) — these use many more examples
# than the Spark-backed hypothesis suite because each case is cheap
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@given(data=st.binary(min_size=0, max_size=4000))
@settings(max_examples=60, deadline=None)
def test_lzw_roundtrip_property(data):
    assert lzw_decode(lzw_encode(data), 8) == data


@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    nf=st.integers(1, 4),
    interlace=st.booleans(),
    seed=st.integers(0, 2**31),
)
@settings(max_examples=25, deadline=None)
def test_gif_roundtrip_property(h, w, nf, interlace, seed):
    rng = np.random.default_rng(seed)
    frames = [rng.integers(0, 256, (h, w), dtype=np.uint8) for _ in range(nf)]
    dec = decode_gif(encode_gif(frames, interlace=interlace))
    assert len(dec["frames"]) == nf
    for got, exp in zip(dec["frames"], frames):
        assert (got == exp).all()


# ---------------------------------------------------------------------------
# perceptual-hash image dedup (aHash over decoded PNGs + banded join)
# ---------------------------------------------------------------------------


def test_image_ahash_from_pixels_matches_planted_bits(spark, sf_small):
    from real_time_event_streaming_pipeline_spark.catalog import load
    from real_time_event_streaming_pipeline_spark.operators.multimodal import (
        _ahash_bits_py,
        image_ahash,
    )

    docs = load(spark, sf_small, "documents").limit(40)
    got = {r.doc_id: r.ahash for r in image_ahash(docs).collect()}
    assert len(got) == 40
    for d, h in got.items():
        assert h == _ahash_bits_py(d)  # pixels -> cells -> threshold == md5 plan


def test_image_dedup_pairs_exactly_the_planted_groups(spark, sf_small):
    """Banding must find every within-group pair (pigeonhole: <= 8
    differing bits across 10 bands) and the hamming filter must kill
    every cross-group candidate."""
    from real_time_event_streaming_pipeline_spark.plans.llmdata import (
        q_image_dedup_pairs,
    )

    rows = q_image_dedup_pairs(spark, sf_small).collect()
    n_docs = 500
    assert len(rows) == (n_docs // 5) * 10  # C(5,2) per planted group
    for r in rows:
        assert r.a_id // 5 == r.b_id // 5  # same group only
        assert 0 <= r.hamming <= 8  # 0 possible: a doc's flips may collide and cancel


def test_image_dedup_probe_scheme_equals_banded(spark, sf_small, monkeypatch):
    """The r8 scale path (3×20-bit multi-probe, radius 2 — engaged
    at/above _AHASH_PROBE_SWITCH docs) must emit EXACTLY the banded
    scheme's pair set: both candidate generators are pigeonhole-
    complete at hamming ≤ 8, so the filtered output is scheme-
    independent by construction — this pins it."""
    from real_time_event_streaming_pipeline_spark.plans import llmdata as L

    banded = {tuple(r) for r in L.q_image_dedup_pairs(spark, sf_small).collect()}
    monkeypatch.setattr(L, "_AHASH_PROBE_SWITCH", 0)
    probe = {tuple(r) for r in L.q_image_dedup_pairs(spark, sf_small).collect()}
    assert banded == probe and banded


def test_image_dedup_probe_shuffle_join_equals_broadcast(spark, sf_small, monkeypatch):
    """r14: the probe scheme's index side broadcasts below
    _AHASH_BCAST_MAX_INDEX_ROWS (the test corpus is tiny, so the
    `probe` set above exercises the broadcast path). Pin the OVER-cap
    regime too — cap forced to 0 keeps the r8-r13 shuffle join — so
    both join strategies provably emit the same pair set."""
    from real_time_event_streaming_pipeline_spark.plans import llmdata as L

    monkeypatch.setattr(L, "_AHASH_PROBE_SWITCH", 0)
    bcast = {tuple(r) for r in L.q_image_dedup_pairs(spark, sf_small).collect()}
    monkeypatch.setattr(L, "_AHASH_BCAST_MAX_INDEX_ROWS", 0)
    shuffled = {tuple(r) for r in L.q_image_dedup_pairs(spark, sf_small).collect()}
    assert bcast and shuffled == bcast


def test_image_ahash_fused_equals_composed_chain(spark, sf_small):
    """r13 fusion guard: image_ahash runs synth (encode) and hash
    (decode) in ONE mapInPandas so the ~1 KB/image PNG payload never
    crosses the Arrow boundary. Pin that it emits EXACTLY the rows of
    the composed two-kernel chain it replaced — synth_phash_images
    payloads shipped through the DataFrame API into a decode+hash
    kernel — so the fusion is a pure transport optimization."""
    import pandas as pd

    from real_time_event_streaming_pipeline_spark.catalog import load
    from real_time_event_streaming_pipeline_spark.operators.multimodal import (
        _ahash_from_pngs,
        image_ahash,
        synth_phash_images,
    )

    docs = load(spark, sf_small, "documents").limit(60)
    fused = {(r.doc_id, r.ahash) for r in image_ahash(docs).collect()}

    def hash_payloads(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"doc_id": [], "ahash": []})
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "ahash": _ahash_from_pngs(list(pdf["payload"])),
                }
            )

    composed = {
        (r.doc_id, r.ahash)
        for r in synth_phash_images(docs)
        .mapInPandas(hash_payloads, "doc_id long, ahash long")
        .collect()
    }
    assert fused == composed and len(fused) == 60
