"""Decoder-seam contract: the multimodal feature extractor must accept an
injected decoder through the same Arrow-batched mapInPandas body the stub
uses (VERDICT r4 item 7) — proving a real codec (PIL/libvips/ffmpeg) slots
in without touching schema, batching, or the plan."""

from __future__ import annotations

import hashlib

import numpy as np

from intellect_bi_spark.functions.text import P
from intellect_bi_spark.operators import multimodal


def _py_poly_hash(vals) -> int:
    acc = 0
    for v in vals:
        acc = (acc * 31 + int(v)) % P
    return acc


def test_default_decode_is_identity_bytes(spark, sf_dir):
    """The stub path: decoded samples ARE the payload bytes."""
    rows = (
        multimodal._image_feature_rows(spark, sf_dir)
        .orderBy("doc_id")
        .limit(3)
        .collect()
    )
    assert rows and all(r["n_bytes"] > 0 for r in rows)


def test_multimodal_decoder_seam_injects(spark, sf_dir):
    """A fake 'codec' that decodes every payload to a fixed 4-sample array
    must flow through the identical UDF body: every output row then
    carries the features of THAT decoded array, not of the raw bytes —
    the injected callable demonstrably ran inside the Python workers."""
    fake_samples = np.array([7, 11, 13, 17], dtype=np.uint8)

    def fake_decode(payload: bytes) -> np.ndarray:
        return fake_samples

    rows = (
        multimodal._image_feature_rows(spark, sf_dir, decode=fake_decode)
        .limit(20)
        .collect()
    )
    assert len(rows) == 20
    expected_sum = int(fake_samples.sum())
    expected_hash = _py_poly_hash(fake_samples)
    for r in rows:
        assert r["n_bytes"] == 4
        assert r["byte_sum"] == expected_sum
        assert r["byte_mean"] == expected_sum / 4.0
        assert r["poly_hash"] == expected_hash


def test_decoder_seam_variable_lengths(spark, sf_dir):
    """Decoders emit per-item lengths (real images differ in size); the
    batch body must size its hash power table to the LONGEST decoded item,
    not assume uniform payloads."""

    def fake_decode(payload: bytes) -> np.ndarray:
        # length depends on the payload, like a real decode would
        n = (len(payload) % 5) + 1
        return np.arange(n, dtype=np.uint8)

    rows = (
        multimodal._image_feature_rows(spark, sf_dir, decode=fake_decode)
        .limit(50)
        .collect()
    )
    assert len(rows) == 50
    for r in rows:
        n = r["n_bytes"]
        assert 1 <= n <= 5
        assert r["byte_sum"] == n * (n - 1) // 2
        assert r["poly_hash"] == _py_poly_hash(range(n))


def test_wav_roundtrip_real_binary():
    """The WAV path is a REAL binary format: encode with the stdlib wave
    writer, decode with the stdlib wave reader, and the header fields +
    PCM samples round-trip the closed-form generator exactly."""
    import io
    import wave

    doc_id = 11
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(multimodal._wav_rate(doc_id))
        w.writeframes(multimodal._wav_samples(doc_id).astype("<i2").tobytes())
    payload = buf.getvalue()
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"

    rate, samples = multimodal.decode_wav(payload)
    assert rate == 8000 + (doc_id % 3) * 4000
    assert samples.size == 256 + (doc_id % 7) * 64
    expect = multimodal._wav_samples(doc_id)
    assert np.array_equal(samples, expect)
    assert samples.min() >= -32768 and samples.max() <= 32767


def test_wav_decode_rejects_garbage():
    import pytest
    import wave

    with pytest.raises((wave.Error, EOFError, ValueError)):
        multimodal.decode_wav(b"\x00" * 64)


def test_wav_features_catch_header_tamper(spark, sf_dir):
    """Flipping the sample-width byte in the fmt chunk must change the
    decode (or raise) — proving features depend on a genuine header
    parse, not on payload offsets."""
    import io
    import wave

    import pandas as pd
    import pytest

    doc_id = 3
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(multimodal._wav_samples(doc_id).astype("<i2").tobytes())
    payload = bytearray(buf.getvalue())
    # byte 34 = bits-per-sample (LE) in the canonical 44-byte header
    assert payload[34] == 16
    payload[34] = 8
    with pytest.raises(ValueError, match="16-bit mono"):
        multimodal.decode_wav(bytes(payload))


def test_ppm_roundtrip_real_binary():
    """The PPM path is a real binary format: encode the P6 header +
    raster, decode with the hand parser, round-trip the generator."""
    doc_id = 13
    w, h = multimodal._ppm_dims(doc_id)
    header = f"P6\n{w} {h}\n255\n".encode()
    payload = header + multimodal._ppm_pixels(doc_id).tobytes()
    dw, dh, px = multimodal.decode_ppm(payload)
    assert (dw, dh) == (w, h)
    assert np.array_equal(px, multimodal._ppm_pixels(doc_id))


def test_ppm_decode_rejects_malformed():
    import pytest

    with pytest.raises(ValueError, match="not a P6"):
        multimodal.decode_ppm(b"P5\n2 2\n255\n" + b"\x00" * 4)
    with pytest.raises(ValueError, match="raster length"):
        multimodal.decode_ppm(b"P6\n4 4\n255\n" + b"\x00" * 5)
    with pytest.raises(ValueError, match="8-bit"):
        multimodal.decode_ppm(b"P6\n1 1\n65535\n" + b"\x00" * 6)


def test_y4m_roundtrip_real_binary():
    """The Y4M path is a real container format: stream header + FRAME
    markers + raw C444 planes, round-tripped through the hand parser."""
    doc_id = 9
    w, h, n = multimodal._y4m_geom(doc_id)
    parts = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()]
    for f in range(n):
        parts.append(b"FRAME\n")
        parts.append(multimodal._y4m_frame(doc_id, f, w, h).tobytes())
    dw, dh, frames = multimodal.decode_y4m(b"".join(parts))
    assert (dw, dh) == (w, h) and len(frames) == n
    for f, px in frames:
        assert np.array_equal(px, multimodal._y4m_frame(doc_id, f, w, h))


def test_y4m_decode_rejects_malformed():
    import pytest

    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        multimodal.decode_y4m(b"JUNK W4 H4 C444\n")
    with pytest.raises(ValueError, match="C444"):
        multimodal.decode_y4m(b"YUV4MPEG2 W4 H4 C420jpeg\nFRAME\n" + b"\0" * 24)
    with pytest.raises(ValueError, match="bad FRAME marker"):
        multimodal.decode_y4m(b"YUV4MPEG2 W2 H2 C444\nXRAME\n" + b"\0" * 12)
    with pytest.raises(ValueError, match="truncated frame"):
        multimodal.decode_y4m(b"YUV4MPEG2 W2 H2 C444\nFRAME\n" + b"\0" * 5)


def test_wav_features_tolerate_short_clip():
    """An injected codec may decode fewer samples than one RMS window —
    the extractor must emit zero rows for that clip, not crash (the
    reshape(n, -1) form raised on empty arrays)."""
    import pandas as pd

    def tiny_decode(payload):
        return 8000, np.arange(10, dtype=np.int64)  # < 64 samples

    gen = multimodal._wav_features_with(tiny_decode)
    out = list(gen(iter([pd.DataFrame({"doc_id": [1], "payload": [b"x"]})])))
    assert sum(len(p) for p in out) == 0


def test_y4m_truncated_marker_line():
    import pytest

    with pytest.raises(ValueError, match="truncated frame"):
        multimodal.decode_y4m(b"YUV4MPEG2 W2 H2 C444\nFRAME")


def test_png_roundtrip_real_binary():
    """The PNG path is a real COMPRESSED format: signature + CRC-guarded
    chunks + zlib DEFLATE + all five spec row filters, round-tripped
    through the hand parser. Every doc_id residue class mod 5 starts its
    filter cycle at a different type, so the set below exercises each
    filter as a ROW-0 filter (prev = zero row) and mid-raster."""
    for doc_id in (0, 1, 2, 3, 4, 17, 123):
        payload = multimodal._encode_png_bytes(doc_id)
        w, h, px = multimodal.decode_png(payload)
        assert (w, h) == multimodal._png_dims(doc_id)
        assert np.array_equal(px, multimodal._png_pixels(doc_id))


def test_png_decode_rejects_malformed():
    import struct
    import zlib

    import pytest

    with pytest.raises(ValueError, match="not a PNG"):
        multimodal.decode_png(b"GIF89a" + b"\x00" * 20)
    # flip one byte inside the IDAT payload: CRC must catch it
    good = bytearray(multimodal._encode_png_bytes(7))
    idat_at = bytes(good).index(b"IDAT")
    good[idat_at + 6] ^= 0xFF
    with pytest.raises(ValueError, match="bad CRC"):
        multimodal.decode_png(bytes(good))
    # valid CRCs but truncated scanline stream
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bad = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", zlib.compress(b"\x00" * 5))
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="scanline stream length"):
        multimodal.decode_png(bad)
    # truncation mid-chunk must raise ValueError (the decoder-family
    # error contract), never a bare struct.error
    whole = multimodal._encode_png_bytes(3)
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_png(whole[:20])  # cut inside IHDR
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_png(whole[:-6])  # cut inside IEND's CRC
    # unsupported color type (grayscale)
    gray = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    bad2 = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", gray)
        + multimodal._png_chunk(b"IDAT", zlib.compress(b"\x00" * 6))
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="truecolor-8"):
        multimodal.decode_png(bad2)


def test_png_feature_rows_accept_injected_codec(spark, sf_dir):
    """The PNG extractor shares the PPM feature seam: an injected decoder
    (a real libpng binding in production) flows through the identical
    mapInPandas body and schema."""

    def fake_decode(payload):
        return 2, 1, np.array([1, 2, 3, 4, 5, 6], dtype=np.uint8)

    rows = (
        multimodal._feature_rows(spark, sf_dir, "png", decode=fake_decode)
        .limit(5)
        .collect()
    )
    assert len(rows) == 5
    for r in rows:
        assert (r["width"], r["height"], r["n_pixels"]) == (2, 1, 2)
        assert (r["sum_r"], r["sum_g"], r["sum_b"]) == (5, 7, 9)


def test_png_crc_valid_but_malformed_payloads_raise_valueerror():
    """CRC-valid chunks with broken payloads must still land in the
    ValueError contract: wrong-length IHDR and an undecodable DEFLATE
    stream (the CRC only proves transport integrity, not validity)."""
    import struct
    import zlib

    import pytest

    short_ihdr = struct.pack(">IIBBBB", 2, 2, 8, 2, 0, 0)  # 12 bytes
    bad = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", short_ihdr)
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="IHDR length"):
        multimodal.decode_png(bad)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bad2 = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", b"\x99not-deflate\x99")
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="bad IDAT"):
        multimodal.decode_png(bad2)


def test_png_unfilter_vector_path_byte_exact():
    """The r8 hybrid-vectorized un-filter (stride >= _PNG_VEC_MIN_STRIDE)
    must agree byte-for-byte with the reference byte loop — a wide raster
    with every filter type as a row filter, including row 0 (prev = zero
    row), plus the full decode_png roundtrip through the vector path."""
    rng = np.random.default_rng(20260814)
    w, h = 200, 23  # stride 600: vector path; h covers all 5 filters 4x
    assert w * 3 >= multimodal._PNG_VEC_MIN_STRIDE
    raster = rng.integers(0, 256, size=(h, w * 3), dtype=np.int64)
    for start in range(5):  # every filter type as the row-0 filter
        fts = (start + np.arange(h)) % 5
        payload = multimodal._encode_png_raster(raster, fts, w, h)
        dw, dh, px = multimodal.decode_png(payload)
        assert (dw, dh) == (w, h)
        assert np.array_equal(px, raster.ravel().astype(np.uint8))
    # direct agreement of the two unfilter implementations
    import struct
    import zlib

    payload = multimodal._encode_png_raster(raster, np.arange(h) % 5, w, h)
    pos, idat = 8, b""
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        if payload[pos + 4 : pos + 8] == b"IDAT":
            idat += payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
    stream = zlib.decompress(idat)
    assert np.array_equal(
        multimodal._png_unfilter_vec(stream, h, w * 3, 3),
        multimodal._png_unfilter_bytes(stream, h, w * 3, 3),
    )


# --- G.711 μ-law (round 9) ----------------------------------------------------


def _mulaw_expand_scalar_ref(code: int) -> int:
    """Independent scalar reference, written in the CLASSIC segment form
    (Sun g711.c shape): magnitude = ((2·mantissa + 33) << exponent) − 33,
    scaled ×4 — algebraically (2m+33)·4 = 8m+132, so it must agree with
    the vectorized (t − 132) form in multimodal.mulaw_expand for every
    code, INCLUDING the sign fold the parity checksum can't see."""
    u = ~code & 0xFF
    sign = u & 0x80
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    magnitude = (((2 * mantissa + 33) << exponent) - 33) * 4
    return -magnitude if sign else magnitude


def test_mulaw_expand_all_codes_match_reference_table():
    codes = np.arange(256, dtype=np.uint8)
    got = multimodal.mulaw_expand(codes)
    want = np.array(
        [_mulaw_expand_scalar_ref(c) for c in range(256)], dtype=np.int64
    )
    assert np.array_equal(got, want)
    # published G.711 endpoints (signed — binds the sign fold)
    spot = {0x00: -32124, 0x01: -31100, 0x7F: 0, 0x80: 32124,
            0x81: 31100, 0xFF: 0}
    for code, sample in spot.items():
        assert got[code] == sample, (code, got[code], sample)


def test_mulaw_roundtrip_both_chunk_layouts():
    """decode(encode(id)) must reproduce the closed-form expansion for
    an even id (fmt→data) AND an odd id (fmt→odd-length unknown
    chunk→data) — the odd layout fails unless the chunk walk honors the
    RIFF even-padding rule."""
    for doc_id in (2, 7):
        payload = multimodal._encode_wav_mulaw_bytes(doc_id)
        rate, samples = multimodal.decode_wav_mulaw(payload)
        assert rate == multimodal._mulaw_rate(doc_id)
        want = multimodal.mulaw_expand(multimodal._mulaw_codes(doc_id))
        assert np.array_equal(samples, want)
        assert samples.size == multimodal._mulaw_n_samples(doc_id)


def test_mulaw_decode_rejects_bad_payloads():
    import struct

    import pytest

    with pytest.raises(ValueError, match="RIFF"):
        multimodal.decode_wav_mulaw(b"OggS" + b"\x00" * 40)
    # a PCM (tag 1) file must be refused by the format gate
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", 2) + b"\x00\x00"
    pcm = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="format tag 7"):
        multimodal.decode_wav_mulaw(pcm)
    # missing data chunk
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 7, 1, 8000, 8000, 1, 8
    )
    nodata = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="missing"):
        multimodal.decode_wav_mulaw(nodata)


def test_mulaw_seam_injects_decoder(spark, sf_dir):
    """The μ-law RMS path shares decode_wav's seam: an injected decoder
    returning a fixed 64-sample ramp must flow through the identical
    extractor body — one window per doc, with THAT ramp's square sum."""
    ramp = np.arange(64, dtype=np.int64) - 32

    def fake_decode(payload: bytes):
        return 8000, ramp

    rows = (
        multimodal._feature_rows(spark, sf_dir, "mulaw", decode=fake_decode)
        .limit(10)
        .collect()
    )
    assert len(rows) == 10
    want_sq = int((ramp**2).sum())
    for r in rows:
        assert r["window_idx"] == 0
        assert r["sq_sum"] == want_sq
        assert r["rate_hz"] == 8000


# --- IMA ADPCM (round 9) ------------------------------------------------------


def test_adpcm_expand_hand_computed_chain():
    """A 4-nibble chain worked out by hand from the IMA spec tables:
    pred0=0, idx0=0, nibbles [0, 7, 8, 15] →
      nib 0: step=7,  diff=0            → pred 0,   idx 0 (clamped)
      nib 7: step=7,  diff=7+3+1=11     → pred 11,  idx 8
      nib 8: step=16, diff=2 (sign bit) → pred 9,   idx 7
      nib 15: step=14, diff=1+14+7+3=25 → pred −16, idx 15"""
    got = multimodal.adpcm_expand(
        np.array([0, 7, 8, 15], dtype=np.uint8), 0, 0
    )
    assert got.tolist() == [0, 11, 9, -16]


def test_adpcm_expand_clamps_both_rails_and_index():
    # positive rail: max predictor + max positive nibble stays clamped
    got = multimodal.adpcm_expand(
        np.array([7, 7], dtype=np.uint8), 32767, 88
    )
    assert got.tolist() == [32767, 32767]
    # negative rail
    got = multimodal.adpcm_expand(
        np.array([15, 15], dtype=np.uint8), -32768, 88
    )
    assert got.tolist() == [-32768, -32768]
    # index clamp at 0: repeated small nibbles can't underflow the table
    got = multimodal.adpcm_expand(
        np.array([0, 0, 0], dtype=np.uint8), 100, 0
    )
    assert got.tolist() == [100, 100, 100]


def test_adpcm_roundtrip_and_header_state():
    for doc_id in (3, 8):
        payload = multimodal._encode_wav_adpcm_bytes(doc_id)
        rate, samples = multimodal.decode_wav_adpcm(payload)
        assert rate == multimodal._adpcm_rate(doc_id)
        pred0, idx0 = multimodal._adpcm_init_state(doc_id)
        want = multimodal.adpcm_expand(
            multimodal._adpcm_nibbles(doc_id), pred0, idx0
        )
        assert np.array_equal(samples, want)
        assert samples.size == multimodal._adpcm_n_samples(doc_id)


def test_adpcm_decode_rejects_bad_payloads():
    import struct

    import pytest

    with pytest.raises(ValueError, match="RIFF"):
        multimodal.decode_wav_adpcm(b"fLaC" + b"\x00" * 40)
    # a mu-law (tag 7) file must be refused by the format gate
    fmt = struct.pack("<HHIIHHHH", 7, 1, 8000, 8000, 1, 8, 2, 64)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 20) + fmt
    body += b"data" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    bad = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="format tag 17"):
        multimodal.decode_wav_adpcm(bad)


def test_adpcm_seam_injects_decoder(spark, sf_dir):
    ramp = np.arange(64, dtype=np.int64) * 3 - 96

    def fake_decode(payload: bytes):
        return 11025, ramp

    rows = (
        multimodal._feature_rows(spark, sf_dir, "adpcm", decode=fake_decode)
        .limit(8)
        .collect()
    )
    assert len(rows) == 8
    want_sq = int((ramp**2).sum())
    for r in rows:
        assert r["sq_sum"] == want_sq and r["rate_hz"] == 11025


# md5 over the concatenated payloads bytes_of(d) for d in 0..39, per codec
_PAYLOAD_MD5 = {
    "wav": "5f239f71e399c6d13be659cccaeec2dc",
    "mulaw": "93a88759096f1fcbd4f673c15c952f62",
    "adpcm": "7bc5ecc29f04ddfd8237acc8fa481ee1",
    "ilt": "dd58ab399b46daf13021290ad61d5b49",
    "ppm": "fb5125d5aa60c344a8cb2aaff3d73ef5",
    "png": "af9db3a6ad6580c69cca5521bbb8bd07",
    "jpeg": "8cf5519c8e5064d82e41b8ed13805cef",
    "gif": "354807e2b6a35fdb734d3820e9f13aaa",
    "y4m": "9726f65eada6b806df47b3b7a0609bbc",
    "mjpeg": "5761f31f08f565dd24022db5c7471a88",
    "bdv": "f156013e74702fff36e5c38e88e30815",
    "mb4": "604a7a569518ac1bf65df74f511052bc",
    "fmp4": "19408b0869c45b3e3c65d930039c1e83",
    "sts": "ae4641a892e16c66c3302ccb65a5bdbf",
}


def test_codec_payloads_are_pinned():
    """Every encoder's bytes are pinned, so an encoder and its decoder
    cannot drift together unseen by the roundtrip tests."""
    assert set(_PAYLOAD_MD5) == set(multimodal.CODECS)
    for codec, (bytes_of, _, _) in multimodal.CODECS.items():
        h = hashlib.md5()
        for d in range(40):
            h.update(bytes_of(d))
        assert h.hexdigest() == _PAYLOAD_MD5[codec], codec
