"""MJPEG-in-AVI codec tests (r10): the entropy-coded VIDEO class through
the container + frame-decoder seams.  Frames are the frequency-domain
JPEG fixture with a frame term, so every decoded byte has a closed form
and every test asserts BYTE-exact decodes — no tolerance anywhere."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from intellect_bi_spark.operators import multimodal as m


def _mjpeg_frame_pixels(doc_id: int, f: int) -> np.ndarray:
    """Closed-form spatial restatement of frame ``f`` — the same
    construction as _jpeg_pixels with the frame-varying coefficients."""
    w, h, _ = m._mjpeg_geom(doc_id)
    bw_ct = w // 8
    s = np.array(m._JPEG_S, dtype=np.float64)
    ss = np.outer(s, s)
    out = np.empty((h, w, 3), dtype=np.uint8)
    for b in range(bw_ct * (h // 8)):
        yq0, yq1, cbq, crq = m._mjpeg_coeffs(doc_id, f, b)
        yv = 128.0 + yq0 + ss * yq1
        r = np.floor(yv + 1.402 * crq + 0.5)
        g = np.floor(yv - 0.344136 * cbq - 0.714136 * crq + 0.5)
        bl = np.floor(yv + 1.772 * cbq + 0.5)
        by, bx = divmod(b, bw_ct)
        out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.stack(
            [r, g, bl], axis=-1
        )
    return out.reshape(-1)


def test_mjpeg_roundtrip_byte_exact():
    """decode(encode(d)) must equal the closed form for every frame of
    every dim/frame-count combo — container walk AND per-frame Huffman
    decode on the line."""
    for doc_id in list(range(24)) + [161, 1234, 99999]:
        payload = m._encode_avi_mjpeg_bytes(doc_id)
        w, h, frames = m.decode_avi_mjpeg(payload)
        ew, eh, nf = m._mjpeg_geom(doc_id)
        assert (w, h) == (ew, eh)
        assert [f for f, _ in frames] == list(range(nf))
        for f, px in frames:
            assert np.array_equal(
                px, _mjpeg_frame_pixels(doc_id, f)
            ), (doc_id, f)


def test_mjpeg_frames_differ():
    """The frame term must actually vary the content (a constant-frame
    encoder would still pass a frame-0-only checksum)."""
    _, _, frames = m.decode_avi_mjpeg(m._encode_avi_mjpeg_bytes(7))
    assert len(frames) >= 2
    assert not np.array_equal(frames[0][1], frames[1][1])


def test_avi_container_structure():
    """The emitted bytes are a structurally valid AVI: RIFF envelope
    size exact, word alignment everywhere, avih dims/frame count match
    the geometry, one idx1 entry per frame."""
    doc_id = 3  # odd-sized JPEG payloads exercise the pad-byte path
    b = m._encode_avi_mjpeg_bytes(doc_id)
    w, h, nf = m._mjpeg_geom(doc_id)
    assert b[:4] == b"RIFF" and b[8:12] == b"AVI "
    (sz,) = struct.unpack("<I", b[4:8])
    assert 8 + sz == len(b)
    # avih sits at a fixed offset in our writer: RIFF(12) LIST hdr(12)
    # 'avih' chunk hdr(8)
    fields = struct.unpack("<14I", b[32:88])
    assert fields[4] == nf and (fields[8], fields[9]) == (w, h)
    # idx1 exists and has one 16-byte keyframe entry per frame
    at = b.rindex(b"idx1")
    (isz,) = struct.unpack("<I", b[at + 4 : at + 8])
    assert isz == 16 * nf
    for k in range(nf):
        ck, flags, _off, _ln = struct.unpack(
            "<4sIII", b[at + 8 + 16 * k : at + 24 + 16 * k]
        )
        assert ck == b"00dc" and flags == 0x10


def test_mjpeg_frame_decoder_seam_injection():
    """The per-frame decoder is injectable (a libavcodec binding in
    production): the container walk must feed it each '00dc' chunk's
    exact bytes and preserve frame order."""
    seen: list[bytes] = []

    def fake(frame_bytes):
        seen.append(bytes(frame_bytes))
        return (
            m._mjpeg_geom(5)[0],
            m._mjpeg_geom(5)[1],
            np.zeros(6, dtype=np.uint8),
        )

    payload = m._encode_avi_mjpeg_bytes(5)
    w, h, frames = m.decode_avi_mjpeg(payload, decode_frame=fake)
    nf = m._mjpeg_geom(5)[2]
    assert len(frames) == nf
    assert seen == [m._mjpeg_frame_bytes(5, f) for f in range(nf)]


def test_mjpeg_feature_rows_accept_injected_codec(spark, sf_dir):
    """The video extractor shares the Y4M feature seam: an injected
    whole-payload decoder flows through the identical mapInPandas body
    and schema."""

    def fake_decode(payload):
        return 2, 1, [(0, np.array([1, 2, 3, 4, 5, 6], dtype=np.uint8))]

    rows = (
        m._feature_rows(spark, sf_dir, "mjpeg", decode=fake_decode)
        .limit(5)
        .collect()
    )
    assert len(rows) == 5
    for r in rows:
        assert (r["width"], r["height"], r["frame_idx"]) == (2, 1, 0)
        assert r["frame_sum"] == 21


def test_mjpeg_decode_rejects_malformed():
    good = m._encode_avi_mjpeg_bytes(1)

    def corrupt(b: bytes, what: str) -> bytes:
        if what == "not_riff":
            return b"JUNK" + b[4:]
        if what == "not_avi":
            return b[:8] + b"WAVE" + b[12:]
        if what == "size_short":
            return b[:-2]  # declared RIFF size no longer matches
        if what == "bad_fourcc_in_movi":
            at = b.index(b"00dc")
            return b[:at] + b"01wb" + b[at + 4 :]
        if what == "truncated_chunk":
            # inflate the first '00dc' size past the buffer
            at = b.index(b"00dc")
            return b[: at + 4] + struct.pack("<I", 1 << 30) + b[at + 8 :]
        if what == "idx1_misaligned":
            at = b.rindex(b"idx1")
            (isz,) = struct.unpack("<I", b[at + 4 : at + 8])
            return (
                b[: at + 4]
                + struct.pack("<I", isz - 3)
                + b[at + 8 : at + 8 + isz - 3]
            )
        raise AssertionError(what)

    for what in (
        "not_riff",
        "not_avi",
        "size_short",
        "truncated_chunk",
        "idx1_misaligned",
    ):
        with pytest.raises(ValueError):
            m.decode_avi_mjpeg(corrupt(good, what))
    # an unexpected stream chunk id is SKIPPED (foreign streams are
    # legal in AVI), but then avih's frame count no longer matches
    with pytest.raises(ValueError, match="frame count"):
        m.decode_avi_mjpeg(corrupt(good, "bad_fourcc_in_movi"))


def test_mjpeg_header_frame_mismatch_rejected():
    """avih totals and idx1 counts are cross-checked against movi."""
    b = bytearray(m._encode_avi_mjpeg_bytes(2))
    # avih dwTotalFrames at offset 32 + 16
    struct.pack_into("<I", b, 48, 99)
    with pytest.raises(ValueError, match="frame count"):
        m.decode_avi_mjpeg(bytes(b))


def test_mjpeg_frame_dims_cross_checked():
    """A frame whose SOF dims disagree with avih must be rejected —
    the per-frame decode is not trusted blindly."""

    def wrong_dims(frame_bytes):
        return 1, 1, np.zeros(3, dtype=np.uint8)

    with pytest.raises(ValueError, match="dims"):
        m.decode_avi_mjpeg(
            m._encode_avi_mjpeg_bytes(4), decode_frame=wrong_dims
        )


def test_sampled_decode_equals_filtered_full_decode():
    """The idx1-driven sparse decode (the serving path) must produce
    exactly the sampled subset of the full decode, bit for bit."""
    for doc_id in range(12):
        payload = m._encode_avi_mjpeg_bytes(doc_id)
        w, h, full = m.decode_avi_mjpeg(payload)
        sw, sh, sampled = m.decode_avi_mjpeg_sampled(
            payload, m.SAMPLE_EVERY
        )
        assert (sw, sh) == (w, h)
        want = [(f, px) for f, px in full if f % m.SAMPLE_EVERY == 0]
        assert [f for f, _ in sampled] == [f for f, _ in want]
        for (_, a), (_, b) in zip(sampled, want):
            assert np.array_equal(a, b)


def test_sampled_decode_only_decodes_sampled_frames():
    """The sparse path's entire point: the entropy decoder runs ONCE
    per SAMPLED ordinal, never on skipped frames."""
    calls: list[bytes] = []

    def counting(frame_bytes):
        calls.append(bytes(frame_bytes))
        return m.decode_jpeg(frame_bytes)

    doc_id = 6  # nf = 4 + 6 % 4 = 6 -> sampled ordinals {0, 4}
    payload = m._encode_avi_mjpeg_bytes(doc_id)
    _, _, frames = m.decode_avi_mjpeg_sampled(
        payload, m.SAMPLE_EVERY, decode_frame=counting
    )
    assert [f for f, _ in frames] == [0, 4]
    assert calls == [
        m._mjpeg_frame_bytes(doc_id, 0),
        m._mjpeg_frame_bytes(doc_id, 4),
    ]


def test_sampled_decode_without_idx1_falls_back():
    """Strip idx1: the sequential fallback must still return the same
    sampled frames (skipping non-sampled chunks without decoding)."""
    payload = m._encode_avi_mjpeg_bytes(9)
    at = payload.rindex(b"idx1")
    stripped = payload[:at]
    # fix the RIFF size for the shorter body
    stripped = (
        stripped[:4]
        + struct.pack("<I", len(stripped) - 8)
        + stripped[8:]
    )
    calls = []

    def counting(fb):
        calls.append(1)
        return m.decode_jpeg(fb)

    w, h, frames = m.decode_avi_mjpeg_sampled(
        stripped, m.SAMPLE_EVERY, decode_frame=counting
    )
    _, _, want = m.decode_avi_mjpeg_sampled(payload, m.SAMPLE_EVERY)
    assert [f for f, _ in frames] == [f for f, _ in want]
    assert len(calls) == len(want)
    for (_, a), (_, b) in zip(frames, want):
        assert np.array_equal(a, b)


def test_sampled_decode_rejects_corrupt_idx1_offset():
    """A stale index must fail loudly, not decode from a wrong offset."""
    payload = bytearray(m._encode_avi_mjpeg_bytes(2))
    at = payload.index(b"idx1")
    # first entry's dwChunkOffset sits 8 bytes into the entry
    struct.pack_into("<I", payload, at + 8 + 8, 2)
    with pytest.raises(ValueError, match="idx1 offset"):
        m.decode_avi_mjpeg_sampled(bytes(payload), m.SAMPLE_EVERY)


def _to_absolute_idx1(payload: bytes) -> bytes:
    """Rewrite every idx1 dwChunkOffset from the spec convention
    (relative to the 'movi' fourcc) to the equally-legal absolute-file-
    offset convention many real-world AVI writers emit (ADVICE r10)."""
    buf = bytearray(payload)
    movi_at = buf.index(b"movi")
    at = buf.rindex(b"idx1")
    (sz,) = struct.unpack_from("<I", buf, at + 4)
    for k in range(sz // 16):
        entry = at + 8 + 16 * k
        (rel,) = struct.unpack_from("<I", buf, entry + 8)
        struct.pack_into("<I", buf, entry + 8, movi_at + rel)
    return bytes(buf)


def test_sampled_decode_accepts_absolute_idx1_offsets():
    """Absolute-offset idx1 (a legal, common variant) must decode
    identically to the movi-relative form — and still through the
    index (no sequential fallback), so decode-call count stays sparse."""
    for doc_id in (2, 6, 11):
        rel_payload = m._encode_avi_mjpeg_bytes(doc_id)
        abs_payload = _to_absolute_idx1(rel_payload)
        assert abs_payload != rel_payload
        calls = []

        def counting(fb):
            calls.append(1)
            return m.decode_jpeg(fb)

        w, h, frames = m.decode_avi_mjpeg_sampled(
            abs_payload, m.SAMPLE_EVERY, decode_frame=counting
        )
        ww, wh, want = m.decode_avi_mjpeg_sampled(
            rel_payload, m.SAMPLE_EVERY
        )
        assert (w, h) == (ww, wh)
        assert [f for f, _ in frames] == [f for f, _ in want]
        assert len(calls) == len(want)  # still index-driven sparse
        for (_, a), (_, b) in zip(frames, want):
            assert np.array_equal(a, b)


def test_sampled_decode_rejects_idx1_wrong_under_both_conventions():
    """An offset that lands on its ckid under NEITHER convention is a
    corrupt index and must still raise, not silently fall back."""
    payload = bytearray(_to_absolute_idx1(m._encode_avi_mjpeg_bytes(3)))
    at = payload.rindex(b"idx1")
    struct.pack_into("<I", payload, at + 8 + 8, 2)
    with pytest.raises(ValueError, match="idx1 offset"):
        m.decode_avi_mjpeg_sampled(bytes(payload), m.SAMPLE_EVERY)
