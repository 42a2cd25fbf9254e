"""Baseline-JPEG codec tests (r8, VERDICT r7 item 1): the entropy-coded
lossy class through the multimodal decoder seam. The fixture synthesizes
coefficients in the frequency domain (DC + the exactly-representable
(4,4) AC basis), so the generic decoder's output has a closed form and
every test asserts BYTE-exact decodes — no tolerance anywhere."""

from __future__ import annotations

import numpy as np
import pytest

from intellect_bi_spark.operators import multimodal as m


def test_zigzag_order_is_spec():
    assert m._ZZ[:10] == [
        (0, 0), (0, 1), (1, 0), (2, 0), (1, 1),
        (0, 2), (0, 3), (1, 2), (2, 1), (3, 0),
    ]
    assert m._ZZ_POS[(4, 4)] == 39  # 38 zeros after DC -> two ZRL escapes
    assert len(set(m._ZZ)) == 64


def test_huffman_tables_are_canonical_and_spec_valid():
    # Kraft inequality and the no-all-ones-code rule for both tables
    for bits, vals in (
        (m._JPEG_DC_BITS, m._JPEG_DC_VALS),
        (m._JPEG_AC_BITS, m._JPEG_AC_VALS),
    ):
        assert sum(n / (1 << ln) for ln, n in enumerate(bits, 1)) <= 1
        codes = m._huff_encode_table(bits, vals)
        assert len(codes) == len(vals)
        for code, ln in codes.values():
            assert code != (1 << ln) - 1  # all-ones reserved
        # decoder table is the exact inverse
        dec = m._huff_decode_table(bits, vals)
        assert all(dec[(ln, code)] == sym for sym, (code, ln) in codes.items())


def test_jpeg_roundtrip_byte_exact():
    """decode(encode(d)) must equal the closed form for every dim combo
    (16/24/32 x 8/16) and across the coefficient cycles — Huffman,
    unstuffing, diff-DC, ZRL, dequant, dezigzag, IDCT, YCbCr->RGB all on
    the line."""
    for doc_id in list(range(30)) + [161, 1234, 99999]:
        payload = m._encode_jpeg_bytes(doc_id)
        w, h, px = m.decode_jpeg(payload)
        assert (w, h) == m._jpeg_dims(doc_id)
        assert np.array_equal(px, m._jpeg_pixels(doc_id)), doc_id


def test_jpeg_stuffing_roundtrip():
    """At least one fixture id must produce a stuffed 0xFF00 in its
    entropy segment (otherwise the unstuffing path is untested)."""
    found = False
    for doc_id in range(400):
        payload = m._encode_jpeg_bytes(doc_id)
        scan_at = payload.index(b"\xff\xda")
        body = payload[scan_at + 2 :][: -2]
        if b"\xff\x00" in body:
            found = True
            w, h, px = m.decode_jpeg(payload)
            assert np.array_equal(px, m._jpeg_pixels(doc_id))
            break
    assert found, "no fixture produced a stuffed byte in 400 ids"


def test_jpeg_decode_rejects_malformed():
    good = m._encode_jpeg_bytes(7)
    with pytest.raises(ValueError, match="missing SOI"):
        m.decode_jpeg(b"\x89PNG" + good[2:])
    with pytest.raises(ValueError, match="truncated"):
        m.decode_jpeg(good[:30])  # cut inside a segment
    with pytest.raises(ValueError, match="truncated entropy"):
        scan_at = good.index(b"\xff\xda")
        m.decode_jpeg(good[: scan_at + 20])  # cut mid-scan
    # progressive frame must be rejected, not mis-decoded
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="baseline SOF0"):
        m.decode_jpeg(prog)
    # nonzero restart interval unsupported
    dri = good[:2] + b"\xff\xdd\x00\x04\x00\x08" + good[2:]
    with pytest.raises(ValueError, match="restart intervals"):
        m.decode_jpeg(dri)
    # subsampled (2x1) frame rejected
    sof_at = good.index(b"\xff\xc0")
    bad = bytearray(good)
    bad[sof_at + 11] = 0x21  # Y component h=2,v=1
    with pytest.raises(ValueError, match="4:4:4"):
        m.decode_jpeg(bytes(bad))
    # bare marker inside the entropy stream
    scan_at = good.index(b"\xff\xda")
    sos_len = int.from_bytes(good[scan_at + 2 : scan_at + 4], "big")
    data_at = scan_at + 2 + sos_len
    bad2 = good[: data_at + 3] + b"\xff\xc1" + good[data_at + 5 :]
    with pytest.raises(ValueError, match="entropy stream|Huffman"):
        m.decode_jpeg(bad2)


def test_jpeg_feature_rows_accept_injected_codec(spark, sf_dir):
    """The JPEG extractor shares the PPM/PNG feature seam: an injected
    decoder (a libjpeg-turbo binding in production) flows through the
    identical mapInPandas body and schema."""

    def fake_decode(payload):
        return 2, 1, np.array([1, 2, 3, 4, 5, 6], dtype=np.uint8)

    rows = (
        m._feature_rows(spark, sf_dir, "jpeg", decode=fake_decode)
        .limit(5)
        .collect()
    )
    assert len(rows) == 5
    for r in rows:
        assert (r["width"], r["height"], r["n_pixels"]) == (2, 1, 2)
        assert (r["sum_r"], r["sum_g"], r["sum_b"]) == (5, 7, 9)


def test_jpeg_decoder_is_generic_not_fixture_shaped():
    """Decode a REAL baseline JPEG the fixture generator could never
    emit: different quant tables per entry, several ACs per block
    (including negatives and a run crossing 16), built through the same
    public encoder pieces — proving the decoder handles arbitrary
    coefficient layouts, not just DC+(4,4)."""
    import struct

    w, h = 16, 8
    # hand-built: 2 MCUs, luma coefs at zigzag 1, 5, 20, 39, 62
    qt = bytes(range(8, 72))  # non-flat quant table
    dqt = b"\x00" + qt + b"\x01" + qt
    sof = (
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    )

    def dht(cls, tid, bits, vals):
        return bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)

    tables = (
        dht(0, 0, m._JPEG_DC_BITS, m._JPEG_DC_VALS)
        + dht(1, 0, m._JPEG_AC_BITS, m._JPEG_AC_VALS)
        + dht(0, 1, m._JPEG_DC_BITS, m._JPEG_DC_VALS)
        + dht(1, 1, m._JPEG_AC_BITS, m._JPEG_AC_VALS)
    )
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    head = b"".join((
        b"\xff\xd8",
        b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt,
        b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof,
        b"\xff\xc4" + struct.pack(">H", 2 + len(tables)) + tables,
        b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos,
    ))
    dc_codes = m._huff_encode_table(m._JPEG_DC_BITS, m._JPEG_DC_VALS)
    ac_codes = m._huff_encode_table(m._JPEG_AC_BITS, m._JPEG_AC_VALS)
    bw = m._JpegBitWriter()
    blocks = []
    preds = [0, 0, 0]
    for mcu in range(2):
        y = [0] * 64
        y[0], y[1], y[5], y[20], y[39], y[62] = 5, -3, 7, -2, 1, 4
        cb = [0] * 64
        cb[0], cb[3] = -6 + mcu, 2
        cr = [0] * 64
        cr[0] = 9
        blocks.append((y[:], cb[:], cr[:]))
        for ci, blk in enumerate((y, cb, cr)):
            preds[ci] = m._jpeg_encode_block(bw, blk, preds[ci], dc_codes, ac_codes)
    bw.flush()
    payload = head + bytes(bw.buf) + b"\xff\xd9"
    dw, dh, px = m.decode_jpeg(payload)
    assert (dw, dh) == (w, h)
    # independent reference decode: dequant+dezigzag+IDCT in straight numpy
    M = m._idct_matrix()
    qv = np.frombuffer(qt, dtype=np.uint8).astype(np.int64)
    exp = np.empty((h, w, 3))
    planes = []
    for ci in range(3):
        mats = []
        for mcu in range(2):
            zz = np.array(blocks[mcu][ci], dtype=np.int64) * qv
            nat = np.zeros(64, dtype=np.int64)
            nat[m._ZZ_NAT] = zz
            mats.append((M @ nat.astype(np.float64)))
        plane = np.clip(np.floor(np.stack(mats).reshape(1, 2, 8, 8)
                        .transpose(0, 2, 1, 3).reshape(8, 16) + 128.5), 0, 255)
        planes.append(plane)
    y_p, cb_p, cr_p = planes
    cbc, crc = cb_p - 128.0, cr_p - 128.0
    exp[:, :, 0] = np.floor(y_p + 1.402 * crc + 0.5)
    exp[:, :, 1] = np.floor(y_p - 0.344136 * cbc - 0.714136 * crc + 0.5)
    exp[:, :, 2] = np.floor(y_p + 1.772 * cbc + 0.5)
    exp = np.clip(exp, 0, 255).astype(np.uint8).reshape(-1)
    assert np.array_equal(px, exp)


def test_jpeg_error_contract_on_structural_truncation():
    """seglen-valid but structurally short segments and a lone trailing
    0xFF must raise the decoder-family ValueError, never IndexError
    (r8 review finding)."""
    import struct

    good = m._encode_jpeg_bytes(3)
    # lone 0xFF at buffer end (marker byte cut off)
    with pytest.raises(ValueError, match="truncated marker"):
        m.decode_jpeg(good[:2] + b"\xff")
    # SOF0 whose declared length is consistent but body too short
    short_sof = b"\xff\xc0" + struct.pack(">H", 4) + b"\x08\x00"
    with pytest.raises(ValueError, match="truncated SOF0"):
        m.decode_jpeg(b"\xff\xd8" + short_sof)
    # SOS with component count pointing past its body
    short_sos = b"\xff\xda" + struct.pack(">H", 4) + b"\x03\x01"
    with pytest.raises(ValueError, match="truncated SOS"):
        m.decode_jpeg(b"\xff\xd8" + short_sos)


def test_jpeg_decodes_non_multiple_of_8_dims():
    """Real-world JPEGs pad partial edge blocks to full MCUs and the
    decoder crops; the fixture dims are all multiples of 8, so this
    exercises the (w+7)//8 block count + [:h,:w] crop path directly
    (r8 review finding). Reference decode computed independently."""
    import struct

    w, h = 12, 10  # 2x2 padded MCUs, crop 16x16 -> 12x10
    sof = (
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    )
    head = (
        m._JPEG_PRE_SOF
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
        + m._JPEG_POST_SOF
    )
    bw = m._JpegBitWriter()
    preds = [0, 0, 0]
    zz44 = m._ZZ_POS[(4, 4)]
    coefs = []
    for b in range(4):
        y = [0] * 64
        y[0], y[zz44] = 10 + 3 * b, 2 - b
        cb = [0] * 64
        cb[0] = -4 + b
        cr = [0] * 64
        cr[0] = 6
        coefs.append((y[:], cb[:], cr[:]))
        for ci, blk in enumerate((y, cb, cr)):
            preds[ci] = m._jpeg_encode_block(
                bw, blk, preds[ci], m._JPEG_DC_CODES, m._JPEG_AC_CODES
            )
    bw.flush()
    dw, dh, px = m.decode_jpeg(head + bytes(bw.buf) + b"\xff\xd9")
    assert (dw, dh) == (w, h)
    # closed-form reference: Q=8 flat, DC/8 = coef, (4,4) AC = s(x)s(y)*coef
    s = np.array(m._JPEG_S, dtype=np.float64)
    ss = np.outer(s, s)
    exp = np.empty((h, w, 3), dtype=np.uint8)
    for b in range(4):
        yq = coefs[b]
        yv = 128.0 + yq[0][0] + ss * yq[0][zz44]
        r = np.floor(yv + 1.402 * yq[2][0] + 0.5)
        g = np.floor(yv - 0.344136 * yq[1][0] - 0.714136 * yq[2][0] + 0.5)
        bl = np.floor(yv + 1.772 * yq[1][0] + 0.5)
        by, bx = divmod(b, 2)
        block = np.stack([r, g, bl], axis=-1)
        # crop the padded block to what survives inside (h, w)
        rows = min(8, h - by * 8)
        cols = min(8, w - bx * 8)
        if rows > 0 and cols > 0:
            exp[by * 8 : by * 8 + rows, bx * 8 : bx * 8 + cols] = (
                block[:rows, :cols]
            )
    assert np.array_equal(px, exp.reshape(-1))


def test_png_roundtrip_property_random_rasters():
    """Property test: ANY raster with ANY per-row filter assignment must
    survive encode→decode byte-exactly — both un-filter width paths
    (narrow byte loop and wide hybrid-vector) exercised by the width
    choice."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.sampled_from([2, 5, 20, 50]),  # 50 -> stride 150: vector path
        h=st.integers(min_value=1, max_value=12),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(w, h, seed):
        rng = np.random.default_rng(seed)
        raster = rng.integers(0, 256, size=(h, w * 3), dtype=np.int64)
        fts = rng.integers(0, 5, size=h)
        payload = m._encode_png_raster(raster, fts, w, h)
        dw, dh, px = m.decode_png(payload)
        assert (dw, dh) == (w, h)
        assert np.array_equal(px, raster.ravel().astype(np.uint8))

    check()


def test_jpeg_roundtrip_property_random_coefficients():
    """Property test: arbitrary sparse quantized coefficient layouts
    (random positions incl. long zero runs needing ZRL, random signs and
    magnitudes across DC categories) must decode to the independent
    dequant→dezigzag→IDCT reference."""
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    qt = bytes(range(8, 72))
    dqt = b"\x00" + qt + b"\x01" + qt

    def dht(cls, tid, bits, vals):
        return bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)

    tables = (
        dht(0, 0, m._JPEG_DC_BITS, m._JPEG_DC_VALS)
        + dht(1, 0, m._JPEG_AC_BITS, m._JPEG_AC_VALS)
        + dht(0, 1, m._JPEG_DC_BITS, m._JPEG_DC_VALS)
        + dht(1, 1, m._JPEG_AC_BITS, m._JPEG_AC_VALS)
    )
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])

    @settings(max_examples=25, deadline=None)
    @given(seed=st.integers(min_value=0, max_value=2**31 - 1))
    def check(seed):
        rng = np.random.default_rng(seed)
        w, h = 8 * int(rng.integers(1, 4)), 8 * int(rng.integers(1, 3))
        n_mcu = (w // 8) * (h // 8)
        sof = (
            struct.pack(">BHHB", 8, h, w, 3)
            + bytes([1, 0x11, 0])
            + bytes([2, 0x11, 1])
            + bytes([3, 0x11, 1])
        )
        head = b"".join((
            b"\xff\xd8",
            b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt,
            b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof,
            b"\xff\xc4" + struct.pack(">H", 2 + len(tables)) + tables,
            b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos,
        ))
        bw = m._JpegBitWriter()
        preds = [0, 0, 0]
        blocks = []
        for _ in range(n_mcu):
            mcu = []
            for _ci in range(3):
                blk = [0] * 64
                blk[0] = int(rng.integers(-200, 201))  # DC up to cat 8
                for _ in range(int(rng.integers(0, 6))):
                    pos = int(rng.integers(1, 64))
                    blk[pos] = int(rng.integers(-100, 101))
                mcu.append(blk)
            blocks.append(mcu)
            for ci, blk in enumerate(mcu):
                preds[ci] = m._jpeg_encode_block(
                    bw, blk, preds[ci], m._JPEG_DC_CODES, m._JPEG_AC_CODES
                )
        bw.flush()
        dw, dh, px = m.decode_jpeg(head + bytes(bw.buf) + b"\xff\xd9")
        assert (dw, dh) == (w, h)
        # independent reference: dequant + dezigzag + IDCT + conversion
        M = m._idct_matrix()
        qv = np.frombuffer(qt, dtype=np.uint8).astype(np.int64)
        bw_ct = w // 8
        planes = []
        for ci in range(3):
            mats = []
            for mcu_i in range(n_mcu):
                zz = np.array(blocks[mcu_i][ci], dtype=np.int64) * qv
                nat = np.zeros(64, dtype=np.int64)
                nat[m._ZZ_NAT] = zz
                mats.append(M @ nat.astype(np.float64))
            plane = np.clip(
                np.floor(
                    np.stack(mats)
                    .reshape(h // 8, bw_ct, 8, 8)
                    .transpose(0, 2, 1, 3)
                    .reshape(h, w)
                    + 128.5
                ),
                0,
                255,
            )
            planes.append(plane)
        y_p, cb_p, cr_p = planes
        cbc, crc = cb_p - 128.0, cr_p - 128.0
        exp = np.clip(
            np.stack(
                [
                    np.floor(y_p + 1.402 * crc + 0.5),
                    np.floor(
                        y_p - 0.344136 * cbc - 0.714136 * crc + 0.5
                    ),
                    np.floor(y_p + 1.772 * cbc + 0.5),
                ],
                axis=-1,
            ),
            0,
            255,
        ).astype(np.uint8).reshape(-1)
        assert np.array_equal(px, exp)

    check()
