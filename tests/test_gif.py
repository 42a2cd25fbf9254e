"""GIF/LZW codec tests: byte-exact roundtrip of the hand-written
variable-width LZW inflate (the dictionary-coding entropy class — PNG
covers LZ77+Huffman, JPEG covers Huffman-coded DCT), the KwKwK corner,
mid-stream CLEAR resets, interlace row reordering, the injected-decoder
seam, and the malformed-payload ValueError contract."""

from __future__ import annotations

import numpy as np
import pytest

from intellect_bi_spark.operators import multimodal


def test_gif_roundtrip_real_binary():
    """Encode genuine GIF89a files, decode with the hand parser, compare
    every palette-mapped RGB byte against the closed-form generator."""
    for doc_id in (0, 1, 2, 3, 7, 13, 29, 101):
        payload = multimodal._encode_gif_bytes(doc_id)
        assert payload[:6] == b"GIF89a" and payload[-1:] == b"\x3b"
        w, h, px = multimodal.decode_gif(payload)
        assert (w, h) == multimodal._gif_dims(doc_id)
        assert np.array_equal(px, multimodal._gif_pixels(doc_id))


def test_lzw_kwkwk_case():
    """A run of identical symbols forces code == next unassigned slot
    (the KwKwK case) immediately — the one LZW branch a non-degenerate
    stream may never hit."""
    idx = np.zeros(500, dtype=np.uint8)
    enc = multimodal._lzw_encode(idx)
    assert np.array_equal(multimodal._lzw_decode(enc, 8, 500), idx)


def test_lzw_code_width_growth_and_clear_reset():
    """A 20k-symbol pseudo-random stream grows the table through every
    width step (9→12 bits) and past 4096 entries, so the encoder emits a
    mid-stream CLEAR and both sides rebuild their tables in lockstep."""
    rng = np.random.default_rng(42)
    idx = rng.integers(0, 256, size=20000).astype(np.uint8)
    enc = multimodal._lzw_encode(idx)
    assert np.array_equal(multimodal._lzw_decode(enc, 8, idx.size), idx)
    # runs + noise: dictionary hits interleave with misses
    idx2 = np.concatenate(
        [np.repeat(np.arange(16, dtype=np.uint8), 300), idx[:8000]]
    )
    enc2 = multimodal._lzw_encode(idx2)
    assert np.array_equal(
        multimodal._lzw_decode(enc2, 8, idx2.size), idx2
    )
    # compressible input actually compresses (dictionary coding works)
    runs = np.repeat(np.arange(8, dtype=np.uint8), 1000)
    assert len(multimodal._lzw_encode(runs)) < runs.size // 4


def test_gif_interlaced_rows_reordered():
    """Hand-build an interlaced variant (flag 0x40, rows stored in the
    4-pass order) of a fixture image; the decoder must un-permute it back
    to the same pixels as the sequential encoding."""
    doc_id = 5
    w, h = multimodal._gif_dims(doc_id)
    idx = multimodal._gif_indices(doc_id).reshape(h, w)
    pass_rows = [
        y
        for start, step in multimodal._GIF_INTERLACE_PASSES
        for y in range(start, h, step)
    ]
    stored = idx[pass_rows].reshape(-1)
    payload = bytearray(multimodal._encode_gif_bytes(doc_id))
    # patch: replace the image's packed byte and raster with interlaced
    # (descriptor sits after the 13-byte header, 768-byte GCT, 8-byte GCE
    # — byte VALUE 0x2c also occurs inside the palette, so no index())
    desc = 13 + 768 + 8
    assert payload[desc] == 0x2C
    payload[desc + 9] = 0x40
    head = bytes(payload[: desc + 10]) + b"\x08"
    body = multimodal._gif_subblocks(multimodal._lzw_encode(stored))
    dw, dh, px = multimodal.decode_gif(head + body + b"\x3b")
    assert (dw, dh) == (w, h)
    assert np.array_equal(px, multimodal._gif_pixels(doc_id))


def test_gif_local_color_table_wins():
    """An image descriptor carrying its own palette (flag 0x80) must be
    decoded through THAT table, not the global one."""
    w = h = 4
    indices = np.arange(16, dtype=np.uint8) % 4
    local_pal = np.arange(4 * 3, dtype=np.uint8).reshape(4, 3)[::-1]
    payload = (
        b"GIF89a"
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + b"\x00\x00\x00"  # no global table
        + b"\x2c\x00\x00\x00\x00"
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([0x80 | 0x01])  # local table, 4 entries
        + local_pal.astype(np.uint8).tobytes()
        + b"\x02"
        + multimodal._gif_subblocks(multimodal._lzw_encode(indices, 2))
        + b"\x3b"
    )
    dw, dh, px = multimodal.decode_gif(payload)
    assert (dw, dh) == (w, h)
    assert np.array_equal(px, local_pal[indices].reshape(-1))


def test_gif_decode_rejects_malformed():
    good = multimodal._encode_gif_bytes(7)
    with pytest.raises(ValueError, match="not a GIF"):
        multimodal.decode_gif(b"PNG\x00" + good[4:])
    with pytest.raises(ValueError, match="truncated|length mismatch"):
        # chop the raster mid-sub-block chain
        multimodal.decode_gif(good[:-20] + b"\x00\x3b")
    with pytest.raises(ValueError, match="no image data"):
        multimodal.decode_gif(good[:13] + good[13 : 13 + 768] + b"\x3b")
    # a code far beyond the table must raise, not index garbage
    desc = 13 + 768 + 8
    bad_codes = multimodal._gif_subblocks(b"\xff" * 40)
    with pytest.raises(ValueError, match="LZW|length"):
        multimodal.decode_gif(
            good[: desc + 10] + b"\x08" + bad_codes + b"\x3b"
        )
    # a corrupt min-code-size byte must not size a 2^40-entry table
    with pytest.raises(ValueError, match="min code size"):
        multimodal.decode_gif(
            good[: desc + 10] + b"\x28" + bad_codes + b"\x3b"
        )


def test_lzw_roundtrip_property():
    """Property: ANY non-empty byte sequence LZW-roundtrips exactly —
    hypothesis drives runs, alternations, and near-random payloads
    through every table/width state reachable under 4096 entries."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        data=st.binary(min_size=1, max_size=3000),
        repeat=st.integers(min_value=1, max_value=3),
    )
    @settings(max_examples=40, deadline=None)
    def check(data: bytes, repeat: int):
        idx = np.frombuffer(data * repeat, dtype=np.uint8)
        enc = multimodal._lzw_encode(idx)
        assert np.array_equal(
            multimodal._lzw_decode(enc, 8, idx.size), idx
        )

    check()


def test_gif_feature_rows_accept_injected_codec(spark, sf_dir):
    """The GIF extractor shares the PPM feature seam: an injected decoder
    (a real giflib/PIL binding in production) flows through the identical
    mapInPandas body and schema."""

    def fake_decode(payload):
        return 2, 1, np.array([1, 2, 3, 4, 5, 6], dtype=np.uint8)

    rows = (
        multimodal._feature_rows(spark, sf_dir, "gif", decode=fake_decode)
        .limit(5)
        .collect()
    )
    assert len(rows) == 5
    for r in rows:
        assert (r["width"], r["height"], r["n_pixels"]) == (2, 1, 2)
        assert (r["sum_r"], r["sum_g"], r["sum_b"]) == (5, 7, 9)
