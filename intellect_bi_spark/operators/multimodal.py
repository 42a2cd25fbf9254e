"""Multimodal (binary-column) operators: image, audio and video decoded
from ``binary`` payloads by Arrow-batched Pandas UDFs.

The codec table. ``CODECS`` maps each of the 14 real codecs to
``(bytes_of, decode, family)``:

- ``bytes_of(doc_id) -> bytes`` builds the fixture file for one document
  from a closed-form generator (WAV, μ-law, IMA ADPCM and ILT audio; PPM,
  PNG, baseline JPEG and GIF images; Y4M, MJPEG-in-AVI, BDV-in-AVI, MB4
  and fragmented ISO-BMFF and STS transport-stream video);
- ``decode`` is its serving decoder, hand-rolled and stdlib/numpy only
  (the compressed video containers serve their keyframe-driven sparse
  decoders);
- the family (audio, image or video) fixes the feature rows, their
  schema and the one-row exact checksum the registry query returns.

One pipeline serves them all: ``_codec_media`` encodes the repartitioned
doc_id spine, ``_feature_rows`` decodes each payload into its family's
rows, and the family checksum aggregates them. Because every generator is
closed-form, the DuckDB oracles restate every decoded value without ever
seeing the binary.

The seam contract is ``bytes → decode``: audio decoders return
``(rate, samples)``, image decoders ``(w, h, flat RGB)``, video decoders
``(w, h, [(frame_idx, flat RGB)])``. Any callable with its family's
contract (a PIL, libjpeg or ffmpeg binding) slots into
``_feature_rows(spark, sf_dir, codec, decode=...)`` with nothing else
changing; the seam tests inject fakes there.

The byte-feature stubs (``image_features_stub``,
``video_frame_sample_stub``) read ``documents.text`` as UTF-8 payloads
and keep the scan partitioning; the fixture corpus is pure ASCII, so
every byte-level feature has an exact oracle over ``ascii(substr(...))``.

Scale notes: feature extraction is embarrassingly parallel (mapInPandas,
no shuffle before the one-row aggregate); video sampling decodes only
every SAMPLE_EVERY-th frame (plus, for inter-coded streams, its GOP
prefix), the property that matters when a frame is a 2 MB keyframe.
"""

from __future__ import annotations

import bisect
import io
import math
import struct
import wave
import zlib
from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.text import P

def _poly_hash_np(b: "np.ndarray", pow_table: "np.ndarray") -> int:
    """Vectorized polynomial hash: h = Σ b[i]·31^(n−1−i) mod P.

    Equivalent to the sequential Horner fold (acc·31 + c) mod P but
    numpy-vectorized: per-term products stay < 1e9·255 < 2^63 and the
    partial sums are reduced mod P in one pass — ~100× the pure-Python
    byte loop, which dominates Pandas-UDF wall time otherwise."""
    n = b.size
    if n == 0:
        return 0
    terms = (b.astype(np.int64) * pow_table[n - 1 :: -1]) % P
    return int(terms.sum() % P)


def _pow_table(n: int) -> "np.ndarray":
    out = np.empty(n, dtype=np.int64)
    acc = 1
    for i in range(n):
        out[i] = acc
        acc = (acc * 31) % P
    return out


FRAME_BYTES = 32  # fake "video": consecutive 32-byte frames
SAMPLE_EVERY = 4  # keep every 4th frame
MIMES = ("image/png", "audio/wav", "video/mp4")


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized media table: (doc_id, mime, payload binary, meta struct).

    Metadata is deterministic arithmetic on doc_id/byte-length — the typed
    sidecar a real ingest would carry (width/height for images, sample
    rate/duration for audio, fps/frames for video)."""
    docs = load_tables(spark, sf_dir)["documents"]
    payload = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.element_at(F.array(*[F.lit(m) for m in MIMES]), (F.col("doc_id") % 3 + 1).cast("int")).alias("mime"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).alias("n_bytes"),
            (F.col("doc_id") % 16 * 64 + 256).cast("int").alias("width"),
            (F.col("doc_id") % 9 * 64 + 192).cast("int").alias("height"),
        ).alias("meta"),
    )


def _catalog_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata catalog scan + a pure-plan 'resize': thumbnail dims
    preserving aspect ratio with max edge 128 (metadata transform only —
    the real pixel resize is the decode stub's job)."""
    m = _media(spark, sf_dir)
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.lit(128.0) / F.greatest(w, h)
    return m.select(
        "doc_id",
        "mime",
        F.col("meta.n_bytes").alias("n_bytes"),
        w.alias("width"),
        h.alias("height"),
        F.floor(w * scale).cast("int").alias("thumb_w"),
        F.floor(h * scale).cast("int").alias("thumb_h"),
    )


def multimodal_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-mime exact checksum of the full catalog relation (all-integer
    sums over every row — any wrong dim/thumb flips a row). A summary,
    not the full 500-row dump, so the driver's compare budget
    covers all registry queries; per-row parity stays in the local mirror
    (tests/test_parity.py)."""
    c = _catalog_rows(spark, sf_dir)
    return c.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.sum("width").alias("sum_width"),
        F.sum("height").alias("sum_height"),
        F.sum("thumb_w").alias("sum_thumb_w"),
        F.sum("thumb_h").alias("sum_thumb_h"),
    )


_FEAT_SCHEMA = (
    "doc_id long, n_bytes int, byte_sum long, byte_mean double, poly_hash long"
)


def default_decode(payload: bytes) -> "np.ndarray":
    """THE decoder seam. The stub treats the payload bytes as the decoded
    sample array; a real decoder (PIL/libvips for images, ffmpeg for
    audio/video) returns its pixel/sample array from the same signature —
    ``bytes -> 1-D uint8-compatible ndarray`` — and nothing else in the
    UDF body, schema, or plan changes. The swap point is exercised by
    tests/test_multimodal_seam.py, which pushes a fake decoder through the
    same mapInPandas body."""
    return np.frombuffer(bytes(payload), dtype=np.uint8)


def _image_features_with(decode):
    """Build the Arrow-batched feature extractor around ``decode`` (a
    closure so the injected decoder pickles into the Python workers with
    the UDF)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            decoded = [decode(p) for p in batch["payload"]]
            max_len = max((d.size for d in decoded), default=1)
            pows = _pow_table(max(max_len, 1))
            for doc_id, b in zip(batch["doc_id"], decoded):
                s = int(b.sum())
                out.append(
                    (
                        int(doc_id),
                        int(b.size),
                        s,
                        float(s) / b.size if b.size else 0.0,
                        _poly_hash_np(b, pows),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "n_bytes", "byte_sum", "byte_mean", "poly_hash",
                ],
            )

    return gen


def _image_feature_rows(
    spark: SparkSession, sf_dir: str, decode=default_decode
) -> DataFrame:
    """Per-payload features via Arrow-batched mapInPandas over the binary
    column (the multimodal slow path, kept off the driver). ``decode``
    swaps in a real codec (see :func:`default_decode`).

    Scale note: with a real (expensive) decoder, add
    ``.repartition(defaultParallelism)`` before the UDF so few-large-file
    scans don't serialize the Python stage; with the cheap vectorized stub
    the shuffle costs more than it buys (measured), so the scan
    partitioning is kept."""
    m = _media(spark, sf_dir).select("doc_id", "payload")
    return m.mapInPandas(_image_features_with(decode), schema=_FEAT_SCHEMA)


def image_features_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row exact checksum over every per-payload feature row: integer
    sums plus an id-weighted modular hash sum bind each doc's poly_hash to
    its doc_id, so a single wrong feature value changes the output. The
    overall mean is one double division of two exact longs
    (partition-order independent)."""
    feats = _image_feature_rows(spark, sf_dir)
    return feats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.sum("byte_sum").alias("sum_byte_sum"),
        # both factors reduced mod P before multiplying (matches the video
        # frame checksum): product < P² < 2^63 at any doc_id
        F.sum(F.expr(f"((doc_id % {P}) * poly_hash) % {P}")).alias(
            "id_weighted_hash_sum"
        ),
        (
            F.sum("byte_sum").cast("double") / F.sum("n_bytes")
        ).alias("mean_byte"),
    )


_FRAME_SCHEMA = "doc_id long, frame_idx int, frame_hash long"


def _frame_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    pows = _pow_table(FRAME_BYTES)
    for batch in batches:
        out = []
        for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
            b = np.frombuffer(bytes(payload), dtype=np.uint8)
            n_frames = b.size // FRAME_BYTES
            for i in range(0, n_frames, SAMPLE_EVERY):
                frame = b[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                out.append((int(doc_id), i, _poly_hash_np(frame, pows)))
        yield pd.DataFrame(out, columns=["doc_id", "frame_idx", "frame_hash"])


def _frame_sample_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: every SAMPLE_EVERY-th FRAME_BYTES-slice, hashed.
    Only sampled frames are materialized inside the UDF."""
    m = _media(spark, sf_dir).select("doc_id", "payload")
    return m.mapInPandas(_frame_sample, schema=_FRAME_SCHEMA)


def video_frame_sample_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row exact checksum over every sampled frame (count, distinct
    docs, frame-index sum, id+index-weighted modular hash sum)."""
    frames = _frame_sample_rows(spark, sf_dir)
    return frames.agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("frame_idx").alias("sum_frame_idx"),
        # both factors reduced mod P before multiplying: product < P² < 2^63
        # at any corpus size
        F.sum(
            F.expr(
                f"(((doc_id * 131 + frame_idx) % {P}) * frame_hash) % {P}"
            )
        ).alias("id_weighted_hash_sum"),
    )


# --- REAL audio modality: genuine binary WAV encode + decode ----------------
#
# Each doc carries a real RIFF/WAVE file (44-byte header, fmt + data
# chunks, 16-bit little-endian mono PCM) synthesized by the stdlib ``wave`` writer from a closed-form
# int16 sample sequence, and the feature extractor PARSES that binary with
# the stdlib ``wave`` reader — chunk walk, header fields, byte order and
# all. The sample formula is pure integer arithmetic on (doc_id, i), so
# the DuckDB oracle reproduces every decoded value without ever seeing the
# binary: a wrong header parse, sample-width mix-up, or endianness flip
# breaks the checksum.

_WAV_RMS_WINDOW = 64  # non-overlapping 64-sample RMS windows
_WAV_SAMPLE_MOD = 65536
_WAV_SAMPLE_A = 7919  # doc seed multiplier (prime)
_WAV_SAMPLE_B = 104729  # per-sample stride (prime)


def _wav_n_samples(doc_id: int) -> int:
    """256 + (doc_id % 7)·64 — always a whole number of RMS windows."""
    return 256 + (doc_id % 7) * 64


def _wav_rate(doc_id: int) -> int:
    return 8000 + (doc_id % 3) * 4000


def _wav_samples(doc_id: int) -> "np.ndarray":
    """The closed-form int16 sample sequence the oracle mirrors:
    s[i] = ((doc_id·7919 + i·104729) mod 65536) − 32768."""
    i = np.arange(_wav_n_samples(doc_id), dtype=np.int64)
    return (
        (doc_id * _WAV_SAMPLE_A + i * _WAV_SAMPLE_B) % _WAV_SAMPLE_MOD
        - _WAV_SAMPLE_MOD // 2
    )


def _wav_bytes(doc_id: int) -> bytes:
    """One real RIFF/WAVE file (16-bit mono PCM) written by the stdlib
    ``wave`` writer from the closed-form samples."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(_wav_rate(doc_id))
        w.writeframes(_wav_samples(doc_id).astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, "np.ndarray"]:
    """THE audio decoder — a real format parse, stdlib only: the ``wave``
    reader walks the RIFF chunks, validates the fmt block, and returns
    (sample_rate_hz, int16 sample array decoded little-endian from the
    data chunk). A richer codec (ffmpeg/soundfile for FLAC/MP3) slots in
    behind the same ``bytes -> (rate, samples)`` signature."""
    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            raise ValueError("expected 16-bit mono PCM")
        rate = w.getframerate()
        frames = w.readframes(w.getnframes())
    return rate, np.frombuffer(frames, dtype="<i2").astype(np.int64)


_WAV_FEAT_SCHEMA = (
    "doc_id long, rate_hz int, n_samples int, window_idx int,"
    " sq_sum long, rms double"
)


def _wav_features_with(decode):
    """Arrow-batched windowed-RMS extractor around ``decode`` (closure so
    an injected decoder pickles into the workers — same seam contract as
    :func:`_image_features_with`)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                rate, s = decode(payload)
                n = s.size
                n_win = n // _WAV_RMS_WINDOW
                # vectorized: reshape to (n_win, 64), exact int64 row sums.
                # Explicit width, not -1: numpy cannot infer a dimension
                # for an empty array, so a clip shorter than one window
                # (n_win = 0 — possible from an injected real codec)
                # must reshape to (0, 64) and yield no rows, not raise.
                sq = (
                    (
                        s[: n_win * _WAV_RMS_WINDOW]
                        .reshape(n_win, _WAV_RMS_WINDOW) ** 2
                    ).sum(axis=1)
                )
                for i in range(n_win):
                    out.append(
                        (
                            int(doc_id),
                            int(rate),
                            int(n),
                            i,
                            int(sq[i]),
                            float(np.sqrt(float(sq[i]) / _WAV_RMS_WINDOW)),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "rate_hz", "n_samples", "window_idx",
                    "sq_sum", "rms",
                ],
            )

    return gen


# --- REAL compressed audio: G.711 μ-law WAVE (format 7) decode ------------
#
# The companding audio codec class: the PCM path above
# parses containers but decodes nothing — μ-law is a genuine COMPANDING
# decode (ITU-T G.711: 8-bit logarithmic codes expand to 14-bit linear
# samples through sign/exponent/mantissa unpacking), the telephony codec
# WAVE carries as format tag 7.  The stdlib ``wave`` reader refuses
# non-PCM and ``audioop`` was removed in Python 3.13, so BOTH sides are
# hand-rolled here: the encoder builds the RIFF container by hand
# (fmt tag 7, 8-bit mono, and — on odd doc_ids — an unknown odd-length
# chunk between fmt and data, so the decoder's chunk walk must honor the
# RIFF even-padding rule to survive), and the decoder walks the chunks,
# validates the fmt block, and expands every code with the G.711
# formula, vectorized in numpy.  The code sequence is closed-form in
# (doc_id, i), so the DuckDB oracle recomputes every EXPANDED sample
# with integer arithmetic (255-complement, mantissa·8+132 << exponent,
# sign fold) without ever seeing the binary — a wrong chunk walk, pad
# rule, or expansion constant breaks the exact checksum.
# tests/test_multimodal_seam.py proves decode(encode(id)) byte-exact
# against G.711 reference values and the injected-decoder genericity.

_MULAW_BIAS = 0x84  # 132, the G.711 μ-law bias
_MULAW_CODE_A = 7919
_MULAW_CODE_B = 104729
_MULAW_CODE_C = 3


def _mulaw_n_samples(doc_id: int) -> int:
    """256 + (doc_id % 5)·64 — always whole RMS windows."""
    return 256 + (doc_id % 5) * 64


def _mulaw_rate(doc_id: int) -> int:
    """8 kHz / 16 kHz telephony rates — varied so parity binds the
    PARSED header field, not a constant."""
    return 8000 * (1 + doc_id % 2)


def _mulaw_codes(doc_id: int) -> "np.ndarray":
    """The closed-form μ-law byte sequence the oracle mirrors:
    code[i] = (doc_id·7919 + i·104729 + 3) mod 256 — sweeps all 256
    code values, so every exponent segment of the expansion is
    exercised at every SF."""
    i = np.arange(_mulaw_n_samples(doc_id), dtype=np.int64)
    return (
        (doc_id * _MULAW_CODE_A + i * _MULAW_CODE_B + _MULAW_CODE_C) % 256
    ).astype(np.uint8)


def mulaw_expand(codes: "np.ndarray") -> "np.ndarray":
    """G.711 μ-law expansion (vectorized): transmitted codes are
    one's-complemented; unpack sign(1)/exponent(3)/mantissa(4) and
    invert the companding — sample = ±(((man·2+33) << exp) − 33)·4 in
    the classic table scaling, i.e. ((man<<3)+132) << exp, minus the
    132 bias, sign-folded.  Range ±32124, matching the published
    G.711 decode table endpoints (0x00 → −32124, 0x80 → +32124,
    0xFF/0x7F → 0)."""
    u = 255 - codes.astype(np.int64)  # ~code & 0xFF
    t = (((u & 0x0F) << 3) + _MULAW_BIAS) << ((u >> 4) & 0x07)
    return np.where(u & 0x80, _MULAW_BIAS - t, t - _MULAW_BIAS)


def _riff_chunk(fourcc: bytes, data: bytes) -> bytes:
    """One RIFF chunk: fourcc + LE size + data, padded to word length
    (the pad byte is NOT counted in the size — RIFF spec)."""
    pad = b"\x00" if len(data) % 2 else b""
    return fourcc + struct.pack("<I", len(data)) + data + pad


def _riff_wave(fmt: bytes, data: bytes, extra: bytes = b"") -> bytes:
    """A RIFF/WAVE file: the ``fmt`` chunk, the ready-made chunks
    ``extra``, then the ``data`` chunk."""
    body = (
        b"WAVE" + _riff_chunk(b"fmt ", fmt) + extra
        + _riff_chunk(b"data", data)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _riff_wave_chunks(payload: bytes) -> tuple[bytes, bytes]:
    """The (fmt, data) chunk bodies of a RIFF/WAVE file: validate the
    header, then walk the chunks within the declared size, honoring the
    even-padding rule and skipping unknown chunks."""
    b = bytes(payload)
    if b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    end = min(len(b), 8 + struct.unpack("<I", b[4:8])[0])
    pos, fmt, data = 12, None, None
    while pos + 8 <= end:
        cid = b[pos : pos + 4]
        size = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        chunk_body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = chunk_body
        elif cid == b"data":
            data = chunk_body
        pos += 8 + size + (size % 2)  # RIFF chunks pad to even offsets
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return fmt, data


def _encode_wav_mulaw_bytes(doc_id: int) -> bytes:
    """Hand-built RIFF/WAVE, format tag 7: fmt chunk (16-byte PCM-shaped
    body), an odd-length unknown chunk on odd ids (forces the reader's
    even-padding rule), then the μ-law data chunk."""
    rate = _mulaw_rate(doc_id)
    return _riff_wave(
        struct.pack("<HHIIHH", 7, 1, rate, rate, 1, 8),
        _mulaw_codes(doc_id).tobytes(),
        # odd length → pad byte
        _riff_chunk(b"note", b"\x01\x02\x03") if doc_id % 2 else b"",
    )


def decode_wav_mulaw(payload: bytes) -> tuple[int, "np.ndarray"]:
    """Hand-rolled RIFF chunk walk + G.711 expansion, stdlib+numpy only
    (the stdlib ``wave`` reader rejects format 7): validate the RIFF/
    WAVE header, iterate chunks honoring the even-padding rule, require
    fmt tag 7 mono 8-bit, expand the data chunk's codes to linear
    samples.  Same ``bytes -> (rate, samples)`` seam signature as
    :func:`decode_wav`, so the RMS extractor is shared."""
    fmt, data = _riff_wave_chunks(payload)
    tag, nch, rate, _brate, _balign, bits = struct.unpack("<HHIIHH", fmt[:16])
    if tag != 7 or nch != 1 or bits != 8:
        raise ValueError("expected mono 8-bit mu-law (format tag 7)")
    return rate, mulaw_expand(np.frombuffer(data, dtype=np.uint8))


# --- REAL compressed audio #2: IMA ADPCM (WAVE format 0x11) ----------------
#
# The ORDER-DEPENDENT codec class: μ-law above is memoryless (each byte
# expands independently), but IMA/DVI ADPCM (public IMA spec; WAVE
# format tag 0x11) is a per-sample STATE MACHINE — each 4-bit nibble
# updates a running predictor and an adaptive step index, so sample i
# is wrong unless every one of the i−1 preceding decodes was right.
# Both sides are hand-rolled (nothing in the stdlib decodes ADPCM):
# the encoder builds the RIFF container with the extended fmt chunk
# (cbSize=2, wSamplesPerBlock) and a one-block data chunk whose header
# carries the initial (predictor, step-index) state; the decoder walks
# the chunks, validates tag 0x11 / 4-bit mono / the samples-per-block
# extension, splits bytes into low-first nibbles, and replays the IMA
# expansion (diff accumulation from the step table, ±32768/32767
# clamps, index clamp to [0, 88]).  The nibble sequence and the initial
# state are closed-form in doc_id, so the DuckDB oracle replays the
# SAME state machine with a RECURSIVE CTE — one recursion level per
# sample, the relational restatement of sequential decode — and any
# wrong table entry, clamp, or nibble order diverges the chain
# immediately.  Fixture-independent behavior is locked by unit tests
# against a scalar reference decoder (tests/test_multimodal_seam.py).

_ADPCM_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_ADPCM_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)  # applied to nib & 7
_ADPCM_NIB_A = 6151
_ADPCM_NIB_B = 912871
_ADPCM_NIB_C = 5
_ADPCM_PRED_MULT = 40503  # initial-state spreaders (closed form)


def _adpcm_n_samples(doc_id: int) -> int:
    """256 + (doc_id % 3)·64 — whole RMS windows, even (2 samples/byte),
    and ≤ 384 so the oracle's recursion depth stays fixture-bounded."""
    return 256 + (doc_id % 3) * 64


def _adpcm_rate(doc_id: int) -> int:
    return 8000 + (doc_id % 2) * 3025  # 8000 / 11025


def _adpcm_init_state(doc_id: int) -> tuple[int, int]:
    """(predictor0, index0): closed-form initial codec state carried in
    the block header — sweeps predictor sign/magnitude and all step
    segments across doc ids."""
    pred0 = (doc_id * _ADPCM_PRED_MULT) % 65536 - 32768
    idx0 = doc_id % 89
    return pred0, idx0


def _adpcm_nibbles(doc_id: int) -> "np.ndarray":
    i = np.arange(_adpcm_n_samples(doc_id), dtype=np.int64)
    return (
        (doc_id * _ADPCM_NIB_A + i * _ADPCM_NIB_B + _ADPCM_NIB_C) % 16
    ).astype(np.uint8)


def adpcm_expand(
    nibbles: "np.ndarray", pred0: int, idx0: int
) -> "np.ndarray":
    """IMA ADPCM expansion — inherently sequential (each step's output
    and table position feed the next), so a tight scalar loop, not a
    vectorized map; the mapInPandas stage parallelizes across documents
    instead (one chain per doc is the codec's own data dependency)."""
    step_t = _ADPCM_STEP_TABLE
    index_t = _ADPCM_INDEX_TABLE
    pred, idx = int(pred0), int(idx0)
    out = np.empty(len(nibbles), dtype=np.int64)
    for k, nib in enumerate(nibbles):
        nib = int(nib)
        step = step_t[idx]
        diff = step >> 3
        if nib & 4:
            diff += step
        if nib & 2:
            diff += step >> 1
        if nib & 1:
            diff += step >> 2
        if nib & 8:
            pred = max(pred - diff, -32768)
        else:
            pred = min(pred + diff, 32767)
        idx = min(max(idx + index_t[nib & 7], 0), 88)
        out[k] = pred
    return out


def _encode_wav_adpcm_bytes(doc_id: int) -> bytes:
    """RIFF/WAVE, format tag 0x11: extended fmt chunk (cbSize=2 with
    wSamplesPerBlock), one data block = 4-byte state header (predictor
    int16 LE, index uint8, reserved) + low-nibble-first packed codes."""
    n = _adpcm_n_samples(doc_id)
    rate = _adpcm_rate(doc_id)
    pred0, idx0 = _adpcm_init_state(doc_id)
    nibs = _adpcm_nibbles(doc_id)
    packed = (nibs[0::2] | (nibs[1::2] << 4)).astype(np.uint8).tobytes()
    block_align = 4 + n // 2
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11, 1, rate, rate * block_align // max(n, 1), block_align, 4,
        2, n,  # cbSize=2, wSamplesPerBlock=n
    )
    return _riff_wave(fmt, struct.pack("<hBB", pred0, idx0, 0) + packed)


def decode_wav_adpcm(payload: bytes) -> tuple[int, "np.ndarray"]:
    """Hand-rolled chunk walk + IMA state-machine expansion: validate
    RIFF/WAVE, require fmt tag 0x11 mono 4-bit with the
    wSamplesPerBlock extension, read the block state header, unpack
    low-first nibbles, replay the adaptive chain.  Same seam signature
    as :func:`decode_wav` / :func:`decode_wav_mulaw`."""
    fmt, data = _riff_wave_chunks(payload)
    tag, nch, rate, _br, _ba, bits, cb, spb = struct.unpack(
        "<HHIIHHHH", fmt[:20]
    )
    if tag != 0x11 or nch != 1 or bits != 4 or cb < 2:
        raise ValueError("expected mono 4-bit IMA ADPCM (format tag 17)")
    pred0, idx0, _ = struct.unpack("<hBB", data[:4])
    packed = np.frombuffer(data[4:], dtype=np.uint8)
    nibs = np.empty(packed.size * 2, dtype=np.uint8)
    nibs[0::2] = packed & 0x0F  # low nibble first (IMA packing order)
    nibs[1::2] = packed >> 4
    return rate, adpcm_expand(nibs[:spb], pred0, idx0)


# --- REAL audio modality #4: ILT lapped-transform coding (IntMDCT class) ----
#
# The transform-domain audio class the sample-domain tiers (PCM WAV,
# mu-law companding, ADPCM prediction) do not exercise: MDCT-family
# LAPPED transforms, where coefficients mix samples ACROSS block
# boundaries (the TDAC / overlap property that defines AAC/Vorbis-class
# coding) and decode is a transform inversion, not a per-sample map.
# ILT ("integer lapped transform") is the IntMDCT construction (Geiger
# et al., MPEG-4 ALS): every rotation of the lapped transform runs as
# three integer LIFTING shears — x += floor(c*y + 1/2) — which are
# exactly invertible whatever the (irrational) rotation constants, so
# decode(encode(s)) == s bit for bit and the DuckDB oracle restates the
# ORIGINAL closed-form samples (the lossless-codec oracle shape: if one
# lifting step of one rotation failed to invert, every downstream RMS
# window moves).  Structure per 8-sample block: a TDAC stage of 4
# cross-BOUNDARY pair rotations (each block's first/last samples mix
# with its neighbors' — the 50% lap), then a 3-stage in-block butterfly
# network of pair rotations (the DCT-IV role).  Container: RIFF/WAVE
# with a custom format tag carrying int32 coefficients (the way
# lossless codecs ride WAVE), hand-parsed like the mu-law/ADPCM walks.
# Production swap: a libavcodec IntMDCT/AAC binding through the same
# decode seam.  Reference analogue: S8 binary-media ingest generalized
# per charter (etl/index_docs.py:15-32).


_ILT_M = 8  # block length (samples); lap = M/2 pairs per boundary
_ILT_TAG = 0x1971  # custom WAVE format tag (unassigned range)
_ILT_SAMPLE_A = 9973  # closed-form sample generator (primes)
_ILT_SAMPLE_B = 75011
_ILT_SAMPLE_C = 3
# rotation angles: TDAC boundary pairs (sine-window angles) + the three
# in-block butterfly stages; all have sin != 0 (lifting requires it)
_ILT_TDAC = tuple(math.pi * (i + 0.5) / 16.0 for i in range(_ILT_M // 2))
_ILT_STAGES = (
    (1, ((0, 1), (2, 3), (4, 5), (6, 7)), math.pi / 4.0),
    (2, ((0, 2), (1, 3), (4, 6), (5, 7)), math.pi / 8.0),
    (4, ((0, 4), (1, 5), (2, 6), (3, 7)), 3.0 * math.pi / 16.0),
)


def _ilt_consts(theta: float) -> tuple[float, float]:
    return (math.cos(theta) - 1.0) / math.sin(theta), math.sin(theta)


def _lift_fwd(a: "np.ndarray", b: "np.ndarray", theta: float):
    """Vectorized 3-shear rotation: int64 in, int64 out.  floor(c*x+1/2)
    on int64-exact float64 operands is IEEE-deterministic, and the
    inverse applies the IDENTICAL shears in reverse with subtraction —
    exact invertibility needs no rational constants."""
    pc, uc = _ilt_consts(theta)
    a = a + np.floor(pc * b + 0.5).astype(np.int64)
    b = b + np.floor(uc * a + 0.5).astype(np.int64)
    a = a + np.floor(pc * b + 0.5).astype(np.int64)
    return a, b


def _lift_inv(a: "np.ndarray", b: "np.ndarray", theta: float):
    pc, uc = _ilt_consts(theta)
    a = a - np.floor(pc * b + 0.5).astype(np.int64)
    b = b - np.floor(uc * a + 0.5).astype(np.int64)
    a = a - np.floor(pc * b + 0.5).astype(np.int64)
    return a, b


def ilt_forward(s: "np.ndarray") -> "np.ndarray":
    """Samples -> coefficients.  len(s) must be a multiple of _ILT_M."""
    x = s.astype(np.int64).copy()
    L = x.size
    if L % _ILT_M:
        raise ValueError("ILT input not a whole number of blocks")
    # TDAC stage: pair rotations ACROSS every internal block boundary,
    # vectorized over boundaries (pairs are independent across and
    # within a boundary; lifting steps are sequential within a pair)
    bounds = np.arange(_ILT_M, L, _ILT_M)
    for i, th in enumerate(_ILT_TDAC):
        ia, ib = bounds - 1 - i, bounds + i
        x[ia], x[ib] = _lift_fwd(x[ia], x[ib], th)
    # in-block butterfly network, vectorized over blocks
    blk = x.reshape(-1, _ILT_M)
    for _off, pairs, th in _ILT_STAGES:
        for j, k in pairs:
            blk[:, j], blk[:, k] = _lift_fwd(blk[:, j], blk[:, k], th)
    return blk.reshape(-1)


def ilt_inverse(c: "np.ndarray") -> "np.ndarray":
    """Coefficients -> samples: the identical shears, reversed."""
    x = c.astype(np.int64).copy()
    L = x.size
    if L % _ILT_M:
        raise ValueError("ILT input not a whole number of blocks")
    blk = x.reshape(-1, _ILT_M)
    for _off, pairs, th in reversed(_ILT_STAGES):
        for j, k in reversed(pairs):
            blk[:, j], blk[:, k] = _lift_inv(blk[:, j], blk[:, k], th)
    x = blk.reshape(-1)
    bounds = np.arange(_ILT_M, L, _ILT_M)
    for i, th in reversed(list(enumerate(_ILT_TDAC))):
        ia, ib = bounds - 1 - i, bounds + i
        x[ia], x[ib] = _lift_inv(x[ia], x[ib], th)
    return x


def _ilt_n_samples(doc_id: int) -> int:
    return 256 + (doc_id % 3) * 64  # whole RMS windows AND whole blocks


def _ilt_rate(doc_id: int) -> int:
    return 16000 + (doc_id % 2) * 6050  # 16000 / 22050


def _ilt_samples(doc_id: int) -> "np.ndarray":
    i = np.arange(_ilt_n_samples(doc_id), dtype=np.int64)
    return (
        doc_id * _ILT_SAMPLE_A + i * _ILT_SAMPLE_B + _ILT_SAMPLE_C
    ) % 65536 - 32768


def _encode_wav_ilt_bytes(doc_id: int) -> bytes:
    """RIFF/WAVE with the custom ILT format tag: extended fmt chunk
    (cbSize=2, wSamplesPerBlock=n — the ADPCM header convention) and a
    data chunk of int32 LE transform coefficients."""
    n = _ilt_n_samples(doc_id)
    rate = _ilt_rate(doc_id)
    coeffs = ilt_forward(_ilt_samples(doc_id))
    block_align = 4
    fmt = struct.pack(
        "<HHIIHHHH",
        _ILT_TAG, 1, rate, rate * block_align, block_align, 32,
        2, n,
    )
    return _riff_wave(fmt, coeffs.astype("<i4").tobytes())


def decode_wav_ilt(payload: bytes) -> tuple[int, "np.ndarray"]:
    """Hand-rolled chunk walk + exact inverse lapped transform: validate
    RIFF/WAVE, require the ILT format tag (mono, 32-bit coefficients,
    wSamplesPerBlock extension), then invert the lifting network.  Same
    seam signature as decode_wav / decode_wav_mulaw / decode_wav_adpcm."""
    fmt, data = _riff_wave_chunks(payload)
    tag, nch, rate, _br, _ba, bits, cb, spb = struct.unpack(
        "<HHIIHHHH", fmt[:20]
    )
    if tag != _ILT_TAG or nch != 1 or bits != 32 or cb < 2:
        raise ValueError("expected mono 32-bit ILT coefficients")
    coeffs = np.frombuffer(data, dtype="<i4").astype(np.int64)
    if coeffs.size != spb:
        raise ValueError("coefficient count disagrees with header")
    return rate, ilt_inverse(coeffs)


# --- REAL image modality: binary PPM (P6) encode + hand-parsed decode --------
#
# Same construction as the WAV path: each doc carries a genuine binary
# PPM image — the "P6\n<w> <h>\n255\n" ASCII header followed by w·h·3
# big-endian-order RGB bytes — synthesized from a closed-form pixel
# generator, and the extractor PARSES the format by hand (magic check,
# whitespace-delimited header fields, payload-length validation). The
# oracle recomputes every decoded byte from the generator without seeing
# the binary, so a header mis-parse or pixel-offset bug fails parity.

_PPM_PIX_A = 7919
_PPM_PIX_B = 97


def _ppm_dims(doc_id: int) -> tuple[int, int]:
    return 8 + (doc_id % 5) * 4, 6 + (doc_id % 7) * 2  # (width, height)


def _ppm_pixels(doc_id: int) -> "np.ndarray":
    """v[idx] = (doc_id·7919 + idx·97) mod 256 over the w·h·3 flat RGB
    buffer — the closed form the oracle mirrors."""
    w, h = _ppm_dims(doc_id)
    idx = np.arange(w * h * 3, dtype=np.int64)
    return ((doc_id * _PPM_PIX_A + idx * _PPM_PIX_B) % 256).astype(np.uint8)


def _ppm_bytes(doc_id: int) -> bytes:
    w, h = _ppm_dims(doc_id)
    header = f"P6\n{w} {h}\n255\n".encode("ascii")
    return header + _ppm_pixels(doc_id).tobytes()


def decode_ppm(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """Hand-parsed binary PPM (P6) decode, stdlib only: validates the
    magic, reads the whitespace-delimited width/height/maxval header, and
    returns (width, height, flat uint8 RGB array) from the raster — a
    real format parse behind the same bytes→array seam as the other
    decoders."""
    b = bytes(payload)
    if not b.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        fields.append(int(b[start:pos]))
    pos += 1  # single whitespace after maxval, then the raster
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError("expected 8-bit PPM")
    raster = b[pos : pos + w * h * 3]
    if len(raster) != w * h * 3:
        raise ValueError("raster length mismatch")
    return w, h, np.frombuffer(raster, dtype=np.uint8)


_PPM_FEAT_SCHEMA = (
    "doc_id long, width int, height int, n_pixels int,"
    " sum_r long, sum_g long, sum_b long, idx_weighted long"
)


def _ppm_features_with(decode):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                w, h, px = decode(payload)
                rgb = px.reshape(-1, 3).astype(np.int64)
                idx = np.arange(px.size, dtype=np.int64)
                # Σ ((idx mod P)·v) mod P — binds every byte to its
                # position; partial products < P·256 < 2^63
                iw = int(((idx % P) * px.astype(np.int64) % P).sum())
                out.append(
                    (
                        int(doc_id), w, h, w * h,
                        int(rgb[:, 0].sum()), int(rgb[:, 1].sum()),
                        int(rgb[:, 2].sum()), iw,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "width", "height", "n_pixels",
                    "sum_r", "sum_g", "sum_b", "idx_weighted",
                ],
            )

    return gen


# --- REAL video modality: Y4M (YUV4MPEG2) encode + hand-parsed decode --------
#
# Y4M is the mjpegtools raw-video interchange format every ffmpeg build
# speaks: an ASCII stream header ("YUV4MPEG2 W.. H.. F.. C444\n"), then
# one "FRAME\n" marker + w·h·3 raw plane bytes per frame. Same
# construction as WAV/PPM: payloads are genuine Y4M streams from a
# closed-form pixel generator; the extractor parses the container by
# hand (magic, tagged header fields, per-frame markers) and samples
# every SAMPLE_EVERY-th frame — decode-then-filter never materializes
# unsampled frames' features, the property that matters when a frame is
# a 2 MB keyframe at 100 TB.

_Y4M_PIX_A = 7919
_Y4M_PIX_F = 131071
_Y4M_PIX_B = 97


def _y4m_geom(doc_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames) — doc_id-derived, oracle-mirrored."""
    return (
        4 + (doc_id % 4) * 2,
        4 + (doc_id % 3) * 2,
        8 + (doc_id % 5) * 4,
    )


def _y4m_frame(doc_id: int, f: int, w: int, h: int) -> "np.ndarray":
    idx = np.arange(w * h * 3, dtype=np.int64)
    return (
        (doc_id * _Y4M_PIX_A + f * _Y4M_PIX_F + idx * _Y4M_PIX_B) % 256
    ).astype(np.uint8)


def _y4m_bytes(doc_id: int, geom=_y4m_geom, frame=_y4m_frame) -> bytes:
    """One Y4M stream: C444 header, then a FRAME marker + raw planes per
    frame; ``geom`` and ``frame`` are the fixture's closed forms."""
    w, h, n = geom(doc_id)
    parts = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()]
    for f in range(n):
        parts.append(b"FRAME\n")
        parts.append(frame(doc_id, f, w, h).tobytes())
    return b"".join(parts)


def decode_y4m(payload: bytes):
    """Hand-parsed Y4M decode, stdlib only: validates the YUV4MPEG2
    magic, reads the tagged W/H/C header fields (requires C444 = three
    full planes), then yields (frame_idx, flat uint8 array) per FRAME
    chunk. A real container parse — wrong marker handling or a plane-size
    slip breaks every downstream checksum."""
    b = bytes(payload)
    nl = b.index(b"\n")
    header = b[:nl].split(b" ")
    if header[0] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    c = b"C420"  # Y4M default colourspace when the tag is absent
    for tag in header[1:]:
        if tag.startswith(b"W"):
            w = int(tag[1:])
        elif tag.startswith(b"H"):
            h = int(tag[1:])
        elif tag.startswith(b"C"):
            c = tag
    if w is None or h is None:
        raise ValueError("missing W/H header tags")
    if not c.startswith(b"C444"):
        raise ValueError("expected C444 planes")
    frame_bytes = w * h * 3
    pos = nl + 1
    frames = []
    f = 0
    while pos < len(b):
        if b[pos : pos + 5] != b"FRAME":
            raise ValueError("bad FRAME marker")
        mark = b.find(b"\n", pos)
        if mark == -1:  # header cut off mid-marker-line
            raise ValueError("truncated frame")
        pos = mark + 1
        raster = b[pos : pos + frame_bytes]
        if len(raster) != frame_bytes:
            raise ValueError("truncated frame")
        frames.append((f, np.frombuffer(raster, dtype=np.uint8)))
        pos += frame_bytes
        f += 1
    return w, h, frames


_Y4M_FEAT_SCHEMA = (
    "doc_id long, width int, height int, frame_idx int,"
    " frame_sum long, idx_weighted long"
)


def _y4m_features_with(decode):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                w, h, frames = decode(payload)
                for f, px in frames:
                    if f % SAMPLE_EVERY != 0:
                        continue  # decode-then-filter: only sampled
                        # frames' features are ever computed
                    v = px.astype(np.int64)
                    idx = np.arange(v.size, dtype=np.int64)
                    out.append(
                        (
                            int(doc_id), w, h, f,
                            int(v.sum()),
                            int(((idx % P) * v % P).sum()),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "width", "height", "frame_idx",
                    "frame_sum", "idx_weighted",
                ],
            )

    return gen


# --- REAL compressed-image modality: PNG encode + hand-parsed decode ---------
#
# The DEFLATE-compressed image codec: payloads are genuine PNG files — 8-byte signature, CRC-protected IHDR /
# IDAT / IEND chunks, zlib-DEFLATE scanline stream, and a per-row filter
# byte cycling through ALL FIVE spec filters (None/Sub/Up/Average/Paeth,
# PNG spec §6: https://www.w3.org/TR/png-3/#9Filters) — built stdlib-only
# (zlib + hand-rolled chunk writer). The decoder walks the chunk stream,
# VERIFIES every CRC-32, inflates the concatenated IDAT payload and
# un-filters row by row. Pixels come from the same style of closed-form
# generator as PPM/Y4M, so the oracle recomputes every decoded byte
# without seeing the binary — the checksum only matches if
# deflate→inflate→unfilter reproduced the exact raster.
#
# Scale: decode is embarrassingly parallel (mapInPandas, no shuffle, one
# image never spans executors). The un-filter inner loop is pure Python
# over tiny fixture rasters; a production deployment swaps libpng/PIL in
# behind the identical bytes→(w,h,raster) seam (``_feature_rows``'s
# ``decode=`` parameter, the contract the seam tests inject into).

_PNG_PIX_A = 7919
_PNG_PIX_B = 101
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_dims(doc_id: int) -> tuple[int, int]:
    return 8 + (doc_id % 6) * 4, 5 + (doc_id % 5) * 3  # (width, height)


def _png_pixels(doc_id: int) -> "np.ndarray":
    """v[idx] = (doc_id·7919 + idx·101) mod 256 over the w·h·3 flat RGB
    buffer — the closed form the oracle mirrors."""
    w, h = _png_dims(doc_id)
    idx = np.arange(w * h * 3, dtype=np.int64)
    return ((doc_id * _PNG_PIX_A + idx * _PNG_PIX_B) % 256).astype(np.uint8)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth_np(a: "np.ndarray", b: "np.ndarray", c: "np.ndarray") -> "np.ndarray":
    """Vectorized Paeth predictor (PNG spec §6.6): nearest of left/up/
    up-left to the linear estimate a+b−c, ties breaking a, then b."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _encode_png_raster(
    raster: "np.ndarray", fts: "np.ndarray", w: int, h: int
) -> bytes:
    """Filter + deflate + chunk a (h, w·3) raster into a genuine
    truecolor-8 PNG, row r carrying filter type ``fts[r]``.

    Fully vectorized: filtering reads only the
    RAW raster (unlike decode there is no serial dependency), so all five
    filter candidates are computed for every row in one (5, h, stride)
    numpy pass and the per-row type is gathered by fancy index — no
    Python loop over rows or bytes. Byte-identical to a per-row
    encoder (locked by the decode roundtrip tests)."""
    stride, bpp = w * 3, 3
    raster = raster.astype(np.int64)
    prev = np.zeros_like(raster)
    prev[1:] = raster[:-1]
    left = np.zeros_like(raster)
    left[:, bpp:] = raster[:, :-bpp]
    upleft = np.zeros_like(prev)
    upleft[:, bpp:] = prev[:, :-bpp]
    cands = np.stack(
        [
            raster,
            raster - left,  # Sub
            raster - prev,  # Up
            raster - (left + prev) // 2,  # Average
            raster - _paeth_np(left, prev, upleft),  # Paeth
        ]
    )
    stream = np.empty((h, stride + 1), dtype=np.uint8)
    stream[:, 0] = fts
    stream[:, 1:] = cands[fts, np.arange(h)] % 256
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # truecolor, 8-bit
    idat = zlib.compress(stream.tobytes(), 6)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def _encode_png_bytes(doc_id: int) -> bytes:
    """Build the fixture PNG for ``doc_id``: row r carries filter type
    (doc_id + r) % 5, so every fixture image exercises all five filters."""
    w, h = _png_dims(doc_id)
    fts = (doc_id + np.arange(h, dtype=np.int64)) % 5
    return _encode_png_raster(_png_pixels(doc_id).reshape(h, w * 3), fts, w, h)


def decode_png(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """Hand-parsed PNG decode, stdlib only: signature check, chunk walk
    with CRC-32 verification on every chunk, IHDR parse (truecolor-8,
    non-interlaced only — the shapes this engine synthesizes), zlib
    inflate of the concatenated IDAT stream, and spec §6 row un-filtering
    for all five filter types. Returns (width, height, flat uint8 RGB)."""
    b = bytes(payload)
    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = bytearray()
    while pos < len(b):
        if pos + 8 > len(b):
            # ValueError (not struct.error) on truncation — the error
            # contract shared by decode_ppm/decode_y4m, which quarantine
            # paths pattern-match on
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        ctype = b[pos + 4 : pos + 8]
        if pos + 12 + length > len(b):
            raise ValueError(f"truncated {ctype!r} chunk")
        data = b[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", b[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        pos += 12 + length
        if ctype == b"IHDR":
            if len(data) != 13:
                # ValueError, not struct.error: the decoder-family
                # malformed-input contract (a CRC-valid chunk can still
                # carry the wrong payload length)
                raise ValueError("IHDR length must be 13")
            w, h, depth, ctyp, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if (depth, ctyp, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError("only truecolor-8 non-interlaced supported")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    try:
        stream = zlib.decompress(bytes(idat))
    except zlib.error as e:
        # same contract: a CRC-valid but undecodable DEFLATE stream is
        # malformed input, not an internal error
        raise ValueError(f"bad IDAT deflate stream: {e}") from e
    stride, bpp = w * 3, 3
    if len(stream) != h * (stride + 1):
        raise ValueError("scanline stream length mismatch")
    if stride >= _PNG_VEC_MIN_STRIDE:
        return w, h, _png_unfilter_vec(stream, h, stride, bpp)
    return w, h, _png_unfilter_bytes(stream, h, stride, bpp)


# Below this scanline width the pure-Python byte loop beats numpy: ndarray
# dispatch costs ~µs per op, so on the tiny fixture rasters (stride ≤ 84)
# vectorized rows measured SLOWER (81 vs 67 µs/doc), while at real image
# widths (stride ≥ thousands) the vector path wins by orders of magnitude.
# Both paths are byte-exact and both are locked by the roundtrip tests
# (tests/test_multimodal_seam.py exercises the vector path with a wide
# raster through _encode_png_raster).
_PNG_VEC_MIN_STRIDE = 128


def _png_unfilter_row_serial(
    ft: int, row: list[int], pv: list[int], stride: int, bpp: int
) -> None:
    """THE single serial un-filter implementation: both width paths
    call it, so Average/Paeth cannot diverge at the
    _PNG_VEC_MIN_STRIDE boundary. Mutates ``row`` (raw filtered bytes as
    ints) into the reconstructed scanline given ``pv`` (previous decoded
    row); ft 0 is the caller's no-op."""
    if ft == 1:  # Sub
        for i in range(bpp, stride):
            row[i] = (row[i] + row[i - bpp]) & 0xFF
    elif ft == 2:  # Up
        for i in range(stride):
            row[i] = (row[i] + pv[i]) & 0xFF
    elif ft == 3:  # Average
        for i in range(stride):
            left = row[i - bpp] if i >= bpp else 0
            row[i] = (row[i] + (left + pv[i]) // 2) & 0xFF
    elif ft == 4:  # Paeth
        for i in range(stride):
            a = row[i - bpp] if i >= bpp else 0
            c = pv[i - bpp] if i >= bpp else 0
            b = pv[i]
            # |p−a| = |b−c|, |p−b| = |a−c|, |p−c| = |a+b−2c| for
            # p = a+b−c: the abs-reduced Paeth form
            pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
            pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
            row[i] = (row[i] + pred) & 0xFF
    else:
        raise ValueError(f"unknown filter type {ft}")


def _png_unfilter_bytes(
    stream: bytes, h: int, stride: int, bpp: int
) -> "np.ndarray":
    """Reference per-byte un-filter — fastest for narrow scanlines."""
    out = bytearray(h * stride)
    prev: list[int] = [0] * stride
    for r in range(h):
        ft = stream[r * (stride + 1)]
        row = list(stream[r * (stride + 1) + 1 : (r + 1) * (stride + 1)])
        if ft != 0:
            _png_unfilter_row_serial(ft, row, prev, stride, bpp)
        out[r * stride : (r + 1) * stride] = row
        prev = row
    return np.frombuffer(bytes(out), dtype=np.uint8)


def _png_unfilter_vec(
    stream: bytes, h: int, stride: int, bpp: int
) -> "np.ndarray":
    """Hybrid-vectorized un-filter for real image widths.

    Rows still decode in order (each filter may reference the previous
    DECODED row), but within a row: None is a copy, Up is one vector add,
    and Sub — whose recurrence out[i] = raw[i] + out[i−bpp] telescopes —
    is an exact per-channel cumulative sum (mod 256 distributes over the
    prefix sums; int64 accumulators cannot overflow below 2^55 bytes per
    scanline). Average and Paeth carry an irreducible serial dependency
    on the just-decoded LEFT value, which no prefix/scan form removes
    (floor and mod break linearity); for those rows a tight Python int
    loop over lists is the fastest portable form — per-element numpy was
    measured 7× SLOWER (ndarray dispatch ~µs/op), which is also why the
    whole-image byte path wins below _PNG_VEC_MIN_STRIDE. Net effect on
    a uniform filter mix: the three vectorizable filters drop to O(1)
    Python ops per row, roughly halving wide-image decode; a C codec
    (libpng/PIL) behind the same seam remains the production swap."""
    arr = np.frombuffer(stream, dtype=np.uint8).reshape(h, stride + 1)
    fts = arr[:, 0]
    raw64 = arr[:, 1:].astype(np.int64)
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    prev_list: list[int] | None = None  # lazy list twin of ``prev``
    for r in range(h):
        ft = int(fts[r])
        if ft == 0:
            cur = raw64[r]
        elif ft == 1:  # Sub: per-channel prefix sum
            cur = np.cumsum(raw64[r].reshape(-1, bpp), axis=0).ravel() & 0xFF
        elif ft == 2:  # Up
            cur = (raw64[r] + prev) & 0xFF
        elif ft in (3, 4):  # serial on decoded-left: the shared int loop
            row = arr[r, 1:].tolist()
            if prev_list is None:
                prev_list = prev.tolist()
            _png_unfilter_row_serial(ft, row, prev_list, stride, bpp)
            out[r] = row
            prev = out[r].astype(np.int64)
            prev_list = row
            continue
        else:
            raise ValueError(f"unknown filter type {ft}")
        out[r] = cur
        prev = cur
        prev_list = None
    return out.reshape(-1)


# --- REAL lossy modality: baseline JPEG (SOF0) encode + hand-rolled decode ---
#
# The ENTROPY-CODED LOSSY codec class. Payloads are genuine baseline JFIF/JPEG files — SOI/APP0/DQT/
# SOF0/DHT/SOS/EOI marker stream, canonical-Huffman entropy segment with
# 0xFF00 byte stuffing, differential DC coding, run-length AC coding with
# ZRL escapes — and the decoder is a GENERIC baseline decoder: it walks
# the markers, rebuilds the Huffman tables from the DHT bits/values, bit-
# reads the scan, dequantizes with the DQT tables (zigzag order, per
# spec), dezigzags, runs a real float 2-D IDCT, level-shifts, and
# converts YCbCr→RGB with the JFIF constants.
#
# Lossy codecs normally defeat closed-form oracles (the decoder output is
# only approximately the encoder input), so the fixture is built the only
# honest way around that: coefficients are synthesized IN THE FREQUENCY
# DOMAIN. Each luma block carries a closed-form quantized DC plus one AC
# at (u,v)=(4,4) — the unique AC basis whose sampled cosines are all
# ±√2/2, making its IDCT contribution EXACTLY ±F/8 — and chroma blocks
# are DC-only; with flat quant tables of 8 the mathematically exact
# decode of block b is
#     Y(x,y)  = 128 + yq0(b) + s(x)·s(y)·yq1(b),  s = (+,−,−,+,+,−,−,+)
#     Cb(x,y) = 128 + cbq(b),   Cr(x,y) = 128 + crq(b)
# (integers by construction, coefficient ranges chosen so no clamp ever
# binds), followed by the JFIF conversion with floor(x+0.5) rounding.
# The float IDCT lands within ~1e-13 of these integers, so the rounded
# decode is bit-exact — and the DuckDB oracle restates the whole thing
# (coefficients → Y/Cb/Cr → RGB) in SQL without ever seeing the binary.
# A wrong Huffman rebuild, bit-unstuffing slip, zigzag transposition,
# dequant mix-up, IDCT scale error, or conversion-constant typo all break
# the per-pixel checksum. Reference analogue: S8's binary-document
# ingestion (reference etl/index_docs.py:15-32) generalized per charter.
#
# Scale: identical to the PNG path — embarrassingly parallel mapInPandas
# over the repartitioned id spine; Huffman decode is ~150 symbols per
# fixture image in pure Python (bounded per doc, no shuffle), and a real
# libjpeg-turbo binding slots in behind the same bytes→(w,h,raster) seam.

_JPEG_QVAL = 8  # flat luma/chroma quant tables: dequant = 8·q
_JPEG_S = (1, -1, -1, 1, 1, -1, -1, 1)  # sign of cos((2x+1)·4π/16)


def _jpeg_dims(doc_id: int) -> tuple[int, int]:
    """(width, height), both multiples of 8: 16/24/32 × 8/16."""
    return 16 + (doc_id % 3) * 8, 8 + (doc_id % 2) * 8


def _jpeg_coeffs(doc_id: int, b: int) -> tuple[int, int, int, int]:
    """Closed-form QUANTIZED coefficients for MCU ``b`` (raster order):
    luma DC ∈ [−80, 80], luma AC(4,4) ∈ [−12, 12], chroma DCs ∈ [−12, 12].
    Ranges keep every decoded channel inside [14, 242] — no clamping —
    and every dequantized value is a multiple of 8, so DC/8 and AC/8 are
    exact integers in the IDCT closed form."""
    yq0 = (doc_id * 7919 + b * 97) % 161 - 80
    yq1 = (doc_id * 131 + b * 61) % 25 - 12
    cbq = (doc_id * 53 + b * 29) % 25 - 12
    crq = (doc_id * 89 + b * 41) % 25 - 12
    return yq0, yq1, cbq, crq


def _zigzag() -> list[tuple[int, int]]:
    """(u, v) pairs in JPEG zigzag scan order (spec Figure A.6): walk the
    anti-diagonals, alternating direction — even-sum diagonals run
    bottom-left→top-right, odd-sum top-right→bottom-left."""
    pts = [(u, v) for u in range(8) for v in range(8)]
    return sorted(
        pts,
        key=lambda p: (p[0] + p[1], p[0] if (p[0] + p[1]) % 2 else -p[0]),
    )


_ZZ = _zigzag()
_ZZ_POS = {uv: k for k, uv in enumerate(_ZZ)}  # (u,v) → zigzag index
_ZZ_NAT = [u * 8 + v for u, v in _ZZ]  # zigzag index → natural index

# Custom (file-carried) canonical Huffman tables — spec-valid, decoder
# rebuilds them from the DHT segment: 12 DC categories at 4 bits
# (Kraft 12/16 ≤ 1), all 162 AC symbols at 8 bits (162/256 ≤ 1); neither
# assigns the all-ones code of its length.
_JPEG_DC_BITS = (0, 0, 0, 12) + (0,) * 12
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0,) * 7 + (162,) + (0,) * 8
_JPEG_AC_VALS = tuple(
    (r << 4) | s for r in range(16) for s in range(1, 11)
) + (0x00, 0xF0)

# Encode-side canonical tables are pure functions of the constants above:
# built ONCE at import, not per document inside the mapInPandas encode
# loop (per document that is ~50k rebuilds of 174 dict entries at sf1).
# The decode-side tables are necessarily per-file (rebuilt from DHT).


def _huff_encode_table(bits, vals) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (spec C.2): symbol → (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(bits, vals) -> dict[tuple[int, int], int]:
    """(length, code) → symbol, the decoder-side canonical build."""
    return {
        (length, code): sym
        for sym, (code, length) in _huff_encode_table(bits, vals).items()
    }


class _JpegBitWriter:
    """MSB-first bit writer with JPEG 0xFF→0xFF00 byte stuffing."""

    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        """Pad the final partial byte with 1-bits (spec F.1.2.3)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _jpeg_encode_block(
    bw: _JpegBitWriter,
    zz_coefs: list[int],
    dc_pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    """Entropy-encode one block given its 64 QUANTIZED coefficients in
    zigzag order: differential DC (category + magnitude bits), then
    run-length AC with ZRL escapes and EOB. Returns the new DC pred."""
    dc = zz_coefs[0]
    diff = dc - dc_pred
    s = abs(diff).bit_length()
    code, ln = dc_codes[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    last_nz = 0
    for k in range(63, 0, -1):
        if zz_coefs[k]:
            last_nz = k
            break
    run = 0
    for k in range(1, last_nz + 1):
        v = zz_coefs[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL: sixteen zeros
            bw.write(code, ln)
            run -= 16
        s = abs(v).bit_length()
        code, ln = ac_codes[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)
    return dc


def _jpeg_static_segments() -> tuple[bytes, bytes]:
    """(pre-SOF static segments, post-SOF static segments) — everything
    in the header except the dimension-carrying SOF0, assembled once."""
    qt = bytes([_JPEG_QVAL] * 64)
    dqt = b"\x00" + qt + b"\x01" + qt

    def dht(cls: int, tid: int, bits, vals) -> bytes:
        return bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)

    tables = (
        dht(0, 0, _JPEG_DC_BITS, _JPEG_DC_VALS)
        + dht(1, 0, _JPEG_AC_BITS, _JPEG_AC_VALS)
        + dht(0, 1, _JPEG_DC_BITS, _JPEG_DC_VALS)
        + dht(1, 1, _JPEG_AC_BITS, _JPEG_AC_VALS)
    )
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    pre = b"".join(
        (
            b"\xff\xd8",  # SOI
            b"\xff\xe0"
            + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00"
            + struct.pack(">HH", 1, 1)
            + b"\x00\x00",
            b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt,
        )
    )
    post = b"".join(
        (
            b"\xff\xc4" + struct.pack(">H", 2 + len(tables)) + tables,
            b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos,
        )
    )
    return pre, post


_JPEG_DC_CODES = _huff_encode_table(_JPEG_DC_BITS, _JPEG_DC_VALS)
_JPEG_AC_CODES = _huff_encode_table(_JPEG_AC_BITS, _JPEG_AC_VALS)
_JPEG_PRE_SOF, _JPEG_POST_SOF = _jpeg_static_segments()


def _jfif_bytes(w: int, h: int, coeffs) -> bytes:
    """Build a genuine baseline JFIF/JPEG: 3 components, 4:4:4, two flat
    quant tables, four DHT tables (DC/AC × luma/chroma ids), one
    interleaved scan; ``coeffs(b)`` gives MCU ``b``'s quantized (luma
    DC, luma AC, Cb DC, Cr DC). The luma AC sits at zigzag index 39 =
    (4,4), 38 zeros after the DC — so every block with a nonzero AC
    exercises TWO ZRL escapes before the coefficient code."""
    n_mcu = (w // 8) * (h // 8)
    sof = (
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0])  # Y: 1×1 sampling, quant table 0
        + bytes([2, 0x11, 1])  # Cb: quant table 1
        + bytes([3, 0x11, 1])  # Cr: quant table 1
    )
    head = (
        _JPEG_PRE_SOF
        + b"\xff\xc0"
        + struct.pack(">H", 2 + len(sof))
        + sof
        + _JPEG_POST_SOF
    )
    bw = _JpegBitWriter()
    preds = [0, 0, 0]
    zz44 = _ZZ_POS[(4, 4)]
    zeros = [0] * 64
    for b in range(n_mcu):
        yq0, yq1, cbq, crq = coeffs(b)
        yblk = zeros.copy()
        yblk[0] = yq0
        yblk[zz44] = yq1
        cbblk = zeros.copy()
        cbblk[0] = cbq
        crblk = zeros.copy()
        crblk[0] = crq
        for ci, blk in enumerate((yblk, cbblk, crblk)):
            preds[ci] = _jpeg_encode_block(
                bw, blk, preds[ci], _JPEG_DC_CODES, _JPEG_AC_CODES
            )
    bw.flush()
    return head + bytes(bw.buf) + b"\xff\xd9"


def _encode_jpeg_bytes(doc_id: int) -> bytes:
    w, h = _jpeg_dims(doc_id)
    return _jfif_bytes(w, h, partial(_jpeg_coeffs, doc_id))


class _JpegBitReader:
    """MSB-first bit reader over the entropy-coded segment: un-stuffs
    0xFF00, raises the decoder-family ValueError on truncation or a bare
    marker mid-scan (no DRI ⇒ no RSTn is ever legal here)."""

    __slots__ = ("data", "pos", "acc", "n")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        d, p = self.data, self.pos
        if p >= len(d):
            raise ValueError("truncated entropy stream")
        byte = d[p]
        if byte == 0xFF:
            if p + 1 >= len(d):
                raise ValueError("truncated entropy stream")
            if d[p + 1] != 0x00:
                raise ValueError(
                    f"unexpected marker 0xff{d[p + 1]:02x} in entropy stream"
                )
            self.pos = p + 2
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | byte
        self.n += 8

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        while self.n < k:
            self._fill()
        self.n -= k
        v = (self.acc >> self.n) & ((1 << k) - 1)
        self.acc &= (1 << self.n) - 1
        return v


def _huff_read(br: _JpegBitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bits(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy stream")


def _jpeg_extend(r: int, s: int) -> int:
    """Spec F.12 EXTEND: map the s received magnitude bits to the signed
    coefficient (low half of the category is the negative range)."""
    return r if r >= (1 << (s - 1)) else r - (1 << s) + 1


_IDCT_M: "np.ndarray | None" = None


def _idct_matrix() -> "np.ndarray":
    """64×64 float IDCT operator: pixel_flat = M @ coef_flat, pixel index
    y·8+x, coefficient index u·8+v (natural order) — the generic 2-D
    separable IDCT, not a shortcut tuned to the fixture's coefficients."""
    global _IDCT_M
    if _IDCT_M is None:
        m = np.empty((64, 64), dtype=np.float64)
        for y in range(8):
            for x in range(8):
                for u in range(8):
                    for v in range(8):
                        cu = 1 / math.sqrt(2) if u == 0 else 1.0
                        cv = 1 / math.sqrt(2) if v == 0 else 1.0
                        m[y * 8 + x, u * 8 + v] = (
                            0.25
                            * cu
                            * cv
                            * math.cos((2 * y + 1) * u * math.pi / 16)
                            * math.cos((2 * x + 1) * v * math.pi / 16)
                        )
        _IDCT_M = m
    return _IDCT_M


def decode_jpeg(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """Hand-rolled BASELINE JPEG decode, stdlib+numpy only: marker walk
    (APPn/COM skipped, progressive/extended SOFs rejected), DQT/DHT
    parsed from the file (multi-table segments, zigzag-ordered quant
    entries, canonical Huffman rebuild), interleaved 4:4:4 scan decoded
    with differential DC + RLE AC (EOB/ZRL), dequantize → dezigzag →
    batched float IDCT → level shift with floor(x+0.5) → JFIF YCbCr→RGB.
    Returns (width, height, flat interleaved uint8 RGB) — the same seam
    contract as decode_ppm/decode_png, so a libjpeg binding drops in
    without touching the Spark plumbing."""
    b = bytes(payload)
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, "np.ndarray"] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    w = h = None
    comps: list[tuple[int, int]] = []
    scan: list[tuple[int, int, int]] = []
    data_start = None
    while pos < len(b):
        if pos + 2 > len(b):
            # a lone 0xFF at the buffer end must land in the decoder-
            # family ValueError contract, not IndexError
            raise ValueError("truncated marker")
        if b[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = b[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI before any scan
            break
        if pos + 2 > len(b):
            raise ValueError("truncated segment header")
        (seglen,) = struct.unpack(">H", b[pos : pos + 2])
        seg = b[pos + 2 : pos + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated segment")
        if marker == 0xDB:  # DQT (entries stored in zigzag order)
            o = 0
            while o < len(seg):
                if o + 65 > len(seg):
                    raise ValueError("truncated DQT table")
                pq, tq = seg[o] >> 4, seg[o] & 15
                if pq != 0:
                    raise ValueError("only 8-bit quant tables supported")
                qtables[tq] = np.frombuffer(
                    seg[o + 1 : o + 65], dtype=np.uint8
                ).astype(np.int64)
                o += 65
        elif marker == 0xC4:  # DHT
            o = 0
            while o < len(seg):
                if o + 17 > len(seg):
                    raise ValueError("truncated DHT table")
                cls, tid = seg[o] >> 4, seg[o] & 15
                bits = tuple(seg[o + 1 : o + 17])
                n = sum(bits)
                if o + 17 + n > len(seg):
                    raise ValueError("truncated DHT table")
                vals = tuple(seg[o + 17 : o + 17 + n])
                (dc_tabs if cls == 0 else ac_tabs)[tid] = (
                    _huff_decode_table(bits, vals)
                )
                o += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            # length-validate BEFORE indexing: a seglen-valid but
            # structurally short segment must raise ValueError, not
            # IndexError/struct.error
            if len(seg) < 6 or len(seg) < 6 + 3 * seg[5]:
                raise ValueError("truncated SOF0 segment")
            if seg[0] != 8:
                raise ValueError("only 8-bit precision supported")
            h, w = struct.unpack(">HH", seg[1:5])
            nc = seg[5]
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                if hv != 0x11:
                    raise ValueError("only 4:4:4 (1x1) sampling supported")
                comps.append((cid, tq))
        elif marker in (0xC1, 0xC2, 0xC3) or 0xC5 <= marker <= 0xCF:
            raise ValueError(
                f"only baseline SOF0 supported (got SOF marker 0x{marker:02x})"
            )
        elif marker == 0xDD:  # DRI
            if seg != b"\x00\x00":
                raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            if len(seg) < 1 or len(seg) < 1 + 2 * seg[0] + 3:
                raise ValueError("truncated SOS segment")
            ns = seg[0]
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                scan.append((cs, tt >> 4, tt & 15))
            data_start = pos + seglen
            break
        elif 0xE0 <= marker <= 0xEF or marker == 0xFE:
            pass  # APPn / COM
        else:
            raise ValueError(f"unsupported marker 0x{marker:02x}")
        pos += seglen
    if w is None or not comps:
        raise ValueError("missing SOF0 frame header")
    if data_start is None or not scan:
        raise ValueError("missing SOS scan")
    if len(scan) != 3:
        raise ValueError("expected a 3-component YCbCr scan")
    comp_q = dict(comps)
    bw_ct, bh_ct = (w + 7) // 8, (h + 7) // 8
    n_mcu = bw_ct * bh_ct
    br = _JpegBitReader(b, data_start)
    preds = {cs: 0 for cs, _, _ in scan}
    blocks = {
        cs: np.zeros((n_mcu, 64), dtype=np.int64) for cs, _, _ in scan
    }
    for m in range(n_mcu):
        for cs, dct, act in scan:
            try:
                dc_table, ac_table = dc_tabs[dct], ac_tabs[act]
                q = qtables[comp_q[cs]]
            except KeyError as e:
                raise ValueError(f"scan references undefined table: {e}")
            coefs = blocks[cs][m]
            s = _huff_read(br, dc_table)
            preds[cs] += _jpeg_extend(br.bits(s), s) if s else 0
            coefs[0] = preds[cs]
            k = 1
            while k < 64:
                sym = _huff_read(br, ac_table)
                if sym == 0x00:  # EOB
                    break
                if sym == 0xF0:  # ZRL
                    k += 16
                    continue
                run, size = sym >> 4, sym & 15
                k += run
                if k > 63:
                    raise ValueError("AC coefficient run past block end")
                coefs[k] = _jpeg_extend(br.bits(size), size)
                k += 1
    m_idct = _idct_matrix()
    planes: list["np.ndarray"] = []
    for cs, _, _ in scan:
        deq = blocks[cs] * qtables[comp_q[cs]][None, :]  # zigzag space
        nat = np.zeros_like(deq)
        nat[:, _ZZ_NAT] = deq  # dezigzag to natural (u,v) order
        spatial = nat.astype(np.float64) @ m_idct.T  # (n_mcu, 64) pixels
        vals = np.clip(np.floor(spatial + 128.5), 0, 255)
        plane = (
            vals.reshape(bh_ct, bw_ct, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh_ct * 8, bw_ct * 8)[:h, :w]
        )
        planes.append(plane)
    y, cb, cr = planes
    cbc, crc = cb - 128.0, cr - 128.0
    r = np.floor(y + 1.402 * crc + 0.5)
    g = np.floor(y - 0.344136 * cbc - 0.714136 * crc + 0.5)
    bl = np.floor(y + 1.772 * cbc + 0.5)
    rgb = np.clip(np.stack([r, g, bl], axis=-1), 0, 255)
    return w, h, rgb.astype(np.uint8).reshape(-1)


def _jpeg_pixels(doc_id: int) -> "np.ndarray":
    """The closed-form decode the oracle mirrors: per block, Y = 128 +
    yq0 + s(x)s(y)·yq1, Cb/Cr = 128 + chroma DC, then the JFIF conversion
    with floor(x+0.5) — exactly what the generic decoder must produce."""
    w, h = _jpeg_dims(doc_id)
    bw_ct = w // 8
    s = np.array(_JPEG_S, dtype=np.float64)
    ss = np.outer(s, s)
    out = np.empty((h, w, 3), dtype=np.uint8)
    for b in range(bw_ct * (h // 8)):
        yq0, yq1, cbq, crq = _jpeg_coeffs(doc_id, b)
        yv = 128.0 + yq0 + ss * yq1
        r = np.floor(yv + 1.402 * crq + 0.5)
        g = np.floor(yv - 0.344136 * cbq - 0.714136 * crq + 0.5)
        bl = np.floor(yv + 1.772 * cbq + 0.5)
        by, bx = divmod(b, bw_ct)
        out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.stack(
            [r, g, bl], axis=-1
        )
    return out.reshape(-1)


# --- REAL pixel resize: nearest-neighbor thumbnails over decoded PPM -------
#
# The catalog's thumbnail columns are a metadata transform; this makes
# the PIXEL half real: decode the PPM raster, resample it to a fixed
# thumbnail edge with nearest-neighbor (thumb pixel (ty,tx) reads source
# pixel (ty·h div TH, tx·w div TW) — pure integer index arithmetic, so
# the oracle restates every resampled byte from the same closed-form
# generator), and checksum the RESIZED raster. Map-only like every other
# decode stage; a real resampler (PIL bilinear) slots in behind the same
# decode seam with the thumbnail contract unchanged.

_THUMB_W = 8
_THUMB_H = 6


def _ppm_thumbnails_with(decode):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                w, h, px = decode(payload)
                img = px.reshape(h, w, 3)
                ys = (np.arange(_THUMB_H, dtype=np.int64) * h) // _THUMB_H
                xs = (np.arange(_THUMB_W, dtype=np.int64) * w) // _THUMB_W
                thumb = img[ys][:, xs].astype(np.int64)  # (TH, TW, 3)
                flat = thumb.reshape(-1)
                idx = np.arange(flat.size, dtype=np.int64)
                out.append(
                    (
                        int(doc_id),
                        w,
                        h,
                        int(flat.sum()),
                        int(((idx % P) * flat % P).sum()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "src_w", "src_h", "thumb_sum", "idx_weighted",
                ],
            )

    return gen


def image_thumbnails_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row exact checksum over every nearest-neighbor thumbnail:
    source dims, exact resampled-byte totals, and an id+position-weighted
    binding over every thumbnail byte — a wrong stride, axis swap, or
    rounding in the resample flips the row."""
    rows = _codec_media(spark, sf_dir, _ppm_bytes).mapInPandas(
        _ppm_thumbnails_with(decode_ppm),
        schema=(
            "doc_id long, src_w int, src_h int,"
            " thumb_sum long, idx_weighted long"
        ),
    )
    return rows.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("src_w").alias("sum_src_w"),
        F.sum("src_h").alias("sum_src_h"),
        F.sum("thumb_sum").alias("total_thumb"),
        F.sum(
            F.expr(f"((doc_id % {P}) * (idx_weighted % {P})) % {P}")
        ).alias("id_weighted_binding"),
    )


# --- REAL compressed-video modality: MJPEG inside an AVI/RIFF container -----
#
# The entropy-coded VIDEO codec class.  Payloads are genuine AVI
# files: RIFF/'AVI ' with a
# spec-shaped hdrl (56-byte avih main header + one 'vids'/'MJPG' stream
# carrying AVISTREAMHEADER and BITMAPINFOHEADER), a 'movi' LIST whose
# '00dc' chunks each hold a COMPLETE baseline JFIF/JPEG (the Motion-JPEG
# convention — every frame independently entropy-coded, no inter-frame
# prediction), a keyframe 'idx1' index, and RIFF word alignment (odd
# chunks padded).  The decoder walks the container — validates the RIFF
# envelope and declared size, parses avih for dims/frame count, iterates
# the movi chunks honoring pad bytes, cross-checks the idx1 entries —
# and hands each frame's bytes to the SAME baseline-JPEG decoder the
# still-image path certified (decode_jpeg), through the same injection
# seam, so the full entropy stack (marker walk, canonical Huffman
# rebuild, 0xFF00 unstuffing, diff-DC/RLE-AC, dequant, dezigzag, IDCT,
# YCbCr→RGB) runs per frame.  The oracle restates every SAMPLED decoded
# pixel closed-form from the frequency-domain construction (the
# jpeg_feature_rows oracle extended with the frame term) — it never sees
# the container bytes, so parity proves container walk AND per-frame
# entropy decode byte-exactly.
#
# Scale: one video never spans executors; decode is map-only over the
# repartitioned id spine (_codec_ids), no shuffle until the final
# one-row aggregate.  A production deployment swaps a libavcodec/PIL
# frame decoder in behind the identical bytes→(w,h,frames) seam.
# Reference analogue: none (the reference has no video path at all);
# charter extension in the multimodal-pipeline family beside
# video_frame_sample_y4m.

_MJPEG_FPS = 25
_MJPEG_F_Y0 = 4871  # frame-term spreaders in the quantized-coefficient
_MJPEG_F_Y1 = 59  # closed forms — primes, so frames decorrelate from
_MJPEG_F_CB = 43  # the doc/block terms of the still-JPEG generator
_MJPEG_F_CR = 37


def _mjpeg_geom(doc_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames): dims are the still-JPEG formulas
    (multiples of 8); 4..7 frames, so every doc samples frame 0 and docs
    with doc_id % 4 ≥ 1 also sample frame 4 — both SAMPLE_EVERY branches
    exercised."""
    w, h = _jpeg_dims(doc_id)
    return w, h, 4 + doc_id % 4


def _mjpeg_coeffs(doc_id: int, f: int, b: int) -> tuple[int, int, int, int]:
    """Frame-varying quantized coefficients for MCU ``b`` of frame ``f``
    — same ranges as :func:`_jpeg_coeffs` (luma DC ∈ [−80, 80], ACs/
    chroma DCs ∈ [−12, 12]), keeping every decoded channel inside
    [0, 255] with no clamping, so the closed-form spatial restatement is
    exact."""
    yq0 = (doc_id * 7919 + f * _MJPEG_F_Y0 + b * 97) % 161 - 80
    yq1 = (doc_id * 131 + f * _MJPEG_F_Y1 + b * 61) % 25 - 12
    cbq = (doc_id * 53 + f * _MJPEG_F_CB + b * 29) % 25 - 12
    crq = (doc_id * 89 + f * _MJPEG_F_CR + b * 41) % 25 - 12
    return yq0, yq1, cbq, crq


def _mjpeg_frame_bytes(doc_id: int, f: int) -> bytes:
    """One complete baseline JFIF frame: the still-JPEG encoder with the
    frame-varying coefficient generator."""
    w, h, _ = _mjpeg_geom(doc_id)
    return _jfif_bytes(w, h, lambda b: _mjpeg_coeffs(doc_id, f, b))


def _riff_list(list_type: bytes, payload: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + payload)


def _avi_bytes(
    frames: list[bytes], w: int, h: int, fourcc: bytes, fps: int,
    key_every: int,
) -> bytes:
    """A genuine minimal AVI: hdrl (avih + one vids strl with handler
    ``fourcc``), movi with one word-aligned '00dc' chunk per frame, and
    an idx1 whose offsets follow the standard convention (relative to
    the 'movi' fourcc) and whose AVIIF_KEYFRAME (0x10) flag marks every
    ``key_every``-th frame."""
    nf = len(frames)
    bufsz = max(len(fr) for fr in frames)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        0,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        nf,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        bufsz,  # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,  # dwReserved[4]
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4h",
        b"vids",
        fourcc,
        0,  # dwFlags
        0, 0,  # wPriority, wLanguage
        0,  # dwInitialFrames
        1,  # dwScale
        fps,  # dwRate
        0,  # dwStart
        nf,  # dwLength
        bufsz,  # dwSuggestedBufferSize
        0xFFFFFFFF,  # dwQuality (-1: default)
        0,  # dwSampleSize (0: varying per chunk)
        0, 0, w, h,  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, w, h, 1, 24, fourcc, w * h * 3, 0, 0, 0, 0,
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(
            b"strl",
            _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf),
        ),
    )
    movi_payload = bytearray()
    idx = bytearray()
    for f, fr in enumerate(frames):
        # offset of this chunk's fourcc relative to the 'movi' fourcc:
        # the list-type tag is 4 bytes, chunks follow it
        off = 4 + len(movi_payload)
        movi_payload += _riff_chunk(b"00dc", fr)
        flags = 0x10 if f % key_every == 0 else 0x00
        idx += struct.pack("<4sIII", b"00dc", flags, off, len(fr))
    movi = _riff_list(b"movi", bytes(movi_payload))
    body = b"AVI " + hdrl + movi + _riff_chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _encode_avi_mjpeg_bytes(doc_id: int) -> bytes:
    """The MJPEG AVI: every frame an independent JFIF, so every idx1
    entry is a keyframe."""
    w, h, nf = _mjpeg_geom(doc_id)
    frames = [_mjpeg_frame_bytes(doc_id, f) for f in range(nf)]
    return _avi_bytes(frames, w, h, b"MJPG", _MJPEG_FPS, 1)


def decode_avi_mjpeg(payload: bytes, decode_frame=decode_jpeg):
    """Hand-parsed AVI/MJPEG decode, stdlib only for the container walk:
    validates the RIFF envelope and its declared size, iterates the
    word-aligned chunk stream, parses avih (dims, frame count), decodes
    every '00dc' chunk with ``decode_frame`` (default: the certified
    baseline-JPEG decoder; the injection point for a libavcodec
    binding), cross-checks each decoded frame's dims against the header
    and the idx1 entry count/ckids against the frame list.  Returns
    (width, height, [(frame_idx, flat uint8 RGB)]) — decode_y4m's exact
    seam contract, so the Y4M feature generator runs unchanged."""
    b = bytes(payload)
    if len(b) < 12 or b[:4] != b"RIFF":
        raise ValueError("not a RIFF file")
    (riff_size,) = struct.unpack("<I", b[4:8])
    if 8 + riff_size != len(b):
        raise ValueError("RIFF size mismatch")
    if b[8:12] != b"AVI ":
        raise ValueError("not an AVI stream")

    def chunks(pos: int, end: int):
        while pos < end:
            if pos + 8 > end:
                raise ValueError("truncated chunk header")
            cc = b[pos : pos + 4]
            (sz,) = struct.unpack("<I", b[pos + 4 : pos + 8])
            body = pos + 8
            if body + sz > end:
                raise ValueError("truncated chunk")
            yield cc, body, sz
            pos = body + sz + (sz & 1)

    w = h = nf_declared = None
    frames: list[tuple[int, "np.ndarray"]] = []
    n_idx = None
    for cc, off, sz in chunks(12, len(b)):
        if cc == b"LIST":
            if sz < 4:
                raise ValueError("truncated LIST chunk")
            ltype = b[off : off + 4]
            if ltype == b"hdrl":
                for scc, soff, ssz in chunks(off + 4, off + sz):
                    if scc == b"avih":
                        if ssz < 56:
                            raise ValueError("truncated avih header")
                        fields = struct.unpack(
                            "<14I", b[soff : soff + 56]
                        )
                        nf_declared = fields[4]
                        w, h = fields[8], fields[9]
            elif ltype == b"movi":
                for scc, soff, ssz in chunks(off + 4, off + sz):
                    if scc == b"00dc":
                        fw, fh, px = decode_frame(b[soff : soff + ssz])
                        if w is not None and (fw, fh) != (w, h):
                            raise ValueError(
                                "frame dims disagree with avih"
                            )
                        frames.append((len(frames), px))
        elif cc == b"idx1":
            if sz % 16:
                raise ValueError("idx1 size not a multiple of 16")
            n_idx = sz // 16
            for k in range(n_idx):
                e = off + 16 * k
                if b[e : e + 4] != b"00dc":
                    raise ValueError("unexpected ckid in idx1")
    if w is None:
        raise ValueError("missing avih main header")
    if nf_declared != len(frames):
        raise ValueError("avih frame count disagrees with movi")
    if n_idx is not None and n_idx != len(frames):
        raise ValueError("idx1 entry count disagrees with movi")
    return w, h, frames


def _avi_chunks(b: bytes, pos: int, end: int):
    """Word-aligned RIFF chunk iterator (the MJPEG container walk,
    shared by every AVI-carried codec tier — MJPEG and BDV)."""
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated chunk header")
        cc = b[pos : pos + 4]
        (sz,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        body = pos + 8
        if body + sz > end:
            raise ValueError("truncated chunk")
        yield cc, body, sz
        pos = body + sz + (sz & 1)


def _avi_scan(b: bytes):
    """Shared AVI container scan: validate the RIFF envelope, locate
    avih (dims + declared frame count), the movi LIST, and the idx1
    entries.  Returns (w, h, nf_declared, movi, idx_entries) where
    ``movi = (data_off, data_end)`` with data_off pointing AT the
    'movi' fourcc, and idx_entries is None when the file carries no
    index.  Extracted from the MJPEG walk so the inter-frame BDV tier
    reuses it verbatim."""
    if len(b) < 12 or b[:4] != b"RIFF":
        raise ValueError("not a RIFF file")
    (riff_size,) = struct.unpack("<I", b[4:8])
    if 8 + riff_size != len(b):
        raise ValueError("RIFF size mismatch")
    if b[8:12] != b"AVI ":
        raise ValueError("not an AVI stream")
    w = h = nf_declared = None
    movi = None  # (data_off, data_end); data_off points AT 'movi'
    idx_entries = None
    for cc, off, sz in _avi_chunks(b, 12, len(b)):
        if cc == b"LIST":
            if sz < 4:
                raise ValueError("truncated LIST chunk")
            ltype = b[off : off + 4]
            if ltype == b"hdrl":
                for scc, soff, ssz in _avi_chunks(b, off + 4, off + sz):
                    if scc == b"avih":
                        if ssz < 56:
                            raise ValueError("truncated avih header")
                        fields = struct.unpack(
                            "<14I", b[soff : soff + 56]
                        )
                        nf_declared = fields[4]
                        w, h = fields[8], fields[9]
            elif ltype == b"movi":
                movi = (off, off + sz)
        elif cc == b"idx1":
            if sz % 16:
                raise ValueError("idx1 size not a multiple of 16")
            idx_entries = [
                struct.unpack("<4sIII", b[off + 16 * k : off + 16 * k + 16])
                for k in range(sz // 16)
            ]
    if w is None:
        raise ValueError("missing avih main header")
    if movi is None:
        raise ValueError("missing movi LIST")
    return w, h, nf_declared, movi, idx_entries


def _idx1_base(b: bytes, movi, idx_entries) -> int:
    """idx1 dwChunkOffset convention varies in the wild and BOTH are
    legal AVI: the spec reading is relative to the 'movi'
    list fourcc, but many real writers emit absolute file offsets.
    Probe the first entry under the movi-relative reading; if it
    doesn't land on its ckid but the absolute reading does, use
    absolute for the whole index.  A first entry landing under neither
    keeps the movi-relative base and fails the caller's per-entry ckid
    check — a genuinely corrupt index must still fail loudly, not
    decode garbage."""
    base = movi[0]
    if idx_entries:
        ckid0, _fl0, coff0, _sz0 = idx_entries[0]
        if (
            b[movi[0] + coff0 : movi[0] + coff0 + 4] != ckid0
            and b[coff0 : coff0 + 4] == ckid0
        ):
            base = 0
    return base


def decode_avi_mjpeg_sampled(
    payload: bytes, sample_every: int, decode_frame=decode_jpeg
):
    """Keyframe-index-driven SPARSE decode: MJPEG frames are independent
    (every frame is a keyframe), so the idx1 index supports decoding
    ONLY the sampled ordinals — entropy-decode cost scales with sampled
    frames, not stream length, which is the whole reason the container
    carries an index.  Both legal idx1 offset conventions are accepted
    (movi-relative per the spec, absolute file offsets as many real
    writers emit; the first entry is probed to pick one).
    Each idx1 offset is cross-checked against the fourcc it points at
    (a stale/corrupt index must fail loudly, not decode garbage).
    Falls back to the sequential walk (skipping non-sampled chunks
    WITHOUT decoding them) when idx1 is absent.  Returns the
    decode_avi_mjpeg contract with only sampled ordinals present;
    frame_idx remains the stream ordinal."""
    b = bytes(payload)
    w, h, nf_declared, movi, idx_entries = _avi_scan(b)
    frames: list[tuple[int, "np.ndarray"]] = []
    if idx_entries is not None:
        if nf_declared != len(idx_entries):
            raise ValueError("avih frame count disagrees with idx1")
        base = _idx1_base(b, movi, idx_entries)
        for f in range(0, len(idx_entries), sample_every):
            ckid, _flags, coff, csz = idx_entries[f]
            at = base + coff
            if b[at : at + 4] != ckid:
                raise ValueError("idx1 offset does not land on its ckid")
            (sz_here,) = struct.unpack("<I", b[at + 4 : at + 8])
            if sz_here != csz or at + 8 + csz > movi[1]:
                raise ValueError("idx1 length disagrees with chunk")
            if ckid == b"00dc":
                fw, fh, px = decode_frame(b[at + 8 : at + 8 + csz])
                if (fw, fh) != (w, h):
                    raise ValueError("frame dims disagree with avih")
                frames.append((f, px))
    else:
        ordinal = 0
        for scc, soff, ssz in _avi_chunks(b, movi[0] + 4, movi[1]):
            if scc != b"00dc":
                continue
            if ordinal % sample_every == 0:
                fw, fh, px = decode_frame(b[soff : soff + ssz])
                if (fw, fh) != (w, h):
                    raise ValueError("frame dims disagree with avih")
                frames.append((ordinal, px))
            ordinal += 1
        if nf_declared != ordinal:
            raise ValueError("avih frame count disagrees with movi")
    return w, h, frames


# --- REAL video modality #3: BDV inter-frame (P-frame) codec ----------------
#
# The one codec class MJPEG/Y4M do not exercise: INTER-frame prediction,
# where a frame is NOT independently decodable — the real-world video
# case (MPEG/H.26x GOP structure).  BDV ("block-delta video") is a
# minimal but genuine motion-compensated codec: an I-frame every
# BDV_GOP frames carries raw pixels; each P-frame carries a global
# motion vector plus per-4×4-block COPY/DELTA records — COPY blocks
# reproduce the motion-shifted previous RECONSTRUCTED frame, DELTA
# blocks add a mod-256 residual to it.  Decoding frame f therefore
# requires the reconstruction chain back to its GOP's I-frame, which is
# exactly what the idx1 AVIIF_KEYFRAME flags exist for: the sampled
# decode seeks to the nearest preceding keyframe and rolls forward, so
# per-sampled-frame cost is bounded by the GOP length, not the stream
# length (tests/test_bdv.py proves the call count).  Without an index
# the sequential fallback must decode EVERY frame up to the last
# sampled ordinal — the honest contrast with MJPEG, where skipping is
# free; that asymmetry is the whole reason real containers carry
# keyframe maps.  Container: the SAME AVI walk as MJPEG (_avi_scan /
# _avi_chunks / _idx1_base — shared verbatim), fccHandler 'BDLT'.
#
# Closed-form fixtures: GOP g of video d opens with I-frame pixels
# val(i) = (d·17 + g·71 + i·13) mod 256 over the flattened RGB index;
# phase-1 P-frames are a pure pan of the previous frame by the motion
# vector (all blocks COPY — motion compensation alone reconstructs),
# phase-2 P-frames add a constant residual r(d,g) to every byte with
# zero motion (all blocks DELTA).  Mod-256 arithmetic is exact, so the
# decoder reproduces the generator bit for bit and the DuckDB oracle
# restates every decoded byte in closed form.  Reference analogue: S8
# binary-media ingest generalized per charter (etl/index_docs.py:15-32).

BDV_GOP = 3  # I-frame every 3 frames
_BDV_BLK = 4  # COPY/DELTA block edge (pixels)
_BDV_FPS = 25


def _bdv_geom(doc_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames): dims are multiples of the block edge;
    5..9 frames, so sampling (every 4th) hits I-frames (f=0), phase-1
    pan P-frames (f=4) and phase-2 delta P-frames (f=8)."""
    return 8 + (doc_id % 3) * 4, 4 + (doc_id % 2) * 4, 5 + doc_id % 5


def _bdv_motion(doc_id: int, g: int) -> tuple[int, int]:
    """Phase-1 global motion vector, ∈ {−1, 0, 1}²."""
    return (doc_id + g) % 3 - 1, (doc_id * 2 + g) % 3 - 1


def _bdv_residual(doc_id: int, g: int) -> int:
    """Phase-2 constant residual byte."""
    return (doc_id * 5 + g * 9 + 7) % 256


def _bdv_frame(doc_id: int, f: int, w: int, h: int) -> "np.ndarray":
    """The closed-form decoded frame (flattened uint8 RGB): phase 0 is
    the GOP base pattern, phase 1 the pan of it, phase 2 pan + residual."""
    g, ph = divmod(f, BDV_GOP)
    y, x, c = np.meshgrid(
        np.arange(h, dtype=np.int64),
        np.arange(w, dtype=np.int64),
        np.arange(3, dtype=np.int64),
        indexing="ij",
    )
    if ph == 0:
        j = (y * w + x) * 3 + c
    else:
        dx, dy = _bdv_motion(doc_id, g)
        j = (((y - dy) % h) * w + ((x - dx) % w)) * 3 + c
    r = _bdv_residual(doc_id, g) if ph == 2 else 0
    return (
        (doc_id * 17 + g * 71 + j * 13 + r) % 256
    ).astype(np.uint8).ravel()


def _encode_bdv_frame_bytes(
    cur: "np.ndarray", prev, w: int, h: int, dx: int, dy: int
) -> bytes:
    """One frame's bitstream: I (raw) when prev is None, else P with the
    global motion vector and per-block COPY/DELTA records derived by
    comparing against the motion-shifted previous reconstruction."""
    if prev is None:
        return b"I" + cur.tobytes()
    cur3 = cur.reshape(h, w, 3)
    shifted = np.roll(prev.reshape(h, w, 3), (dy, dx), axis=(0, 1))
    out = [b"P", struct.pack("<bb", dx, dy)]
    for by in range(0, h, _BDV_BLK):
        for bx in range(0, w, _BDV_BLK):
            c_blk = cur3[by : by + _BDV_BLK, bx : bx + _BDV_BLK]
            s_blk = shifted[by : by + _BDV_BLK, bx : bx + _BDV_BLK]
            if np.array_equal(c_blk, s_blk):
                out.append(b"\x00")
            else:
                out.append(b"\x01")
                out.append(
                    (
                        (c_blk.astype(np.int64) - s_blk.astype(np.int64))
                        % 256
                    ).astype(np.uint8).tobytes()
                )
    return b"".join(out)


def _bdv_stream(doc_id: int, geom) -> tuple[int, int, list[bytes]]:
    """(width, height, per-frame BDV bitstreams) of ``doc_id`` over the
    fixture geometry ``geom(doc_id) -> (w, h, n_frames)``: an I-frame
    opens every GOP, phase-1 P-frames carry the GOP's motion vector and
    phase-2 P-frames zero motion.  Every BDV container carries this
    stream."""
    w, h, nf = geom(doc_id)
    frames = [_bdv_frame(doc_id, f, w, h) for f in range(nf)]
    enc = []
    for f, cur in enumerate(frames):
        g, ph = divmod(f, BDV_GOP)
        dx, dy = _bdv_motion(doc_id, g) if ph == 1 else (0, 0)
        prev = frames[f - 1] if ph else None
        enc.append(_encode_bdv_frame_bytes(cur, prev, w, h, dx, dy))
    return w, h, enc


def _encode_avi_bdv_bytes(doc_id: int) -> bytes:
    """The BDV AVI (handler 'BDLT'): AVIIF_KEYFRAME is set ONLY on
    I-frames — the keyframe map the sampled decode seeks with."""
    w, h, enc = _bdv_stream(doc_id, _bdv_geom)
    return _avi_bytes(enc, w, h, b"BDLT", _BDV_FPS, BDV_GOP)


def decode_bdv_frame(fb: bytes, w: int, h: int, prev) -> "np.ndarray":
    """Decode one BDV frame bitstream against the previous RECONSTRUCTED
    frame (flattened uint8 RGB, or None).  I-frames ignore prev;
    P-frames require it — a P-frame with no reference fails loudly."""
    if not fb:
        raise ValueError("empty BDV frame")
    tag = fb[0:1]
    if tag == b"I":
        px = np.frombuffer(fb, dtype=np.uint8, offset=1)
        if px.size != w * h * 3:
            raise ValueError("I-frame size disagrees with header dims")
        return px.copy()
    if tag != b"P":
        raise ValueError("unknown BDV frame tag")
    if prev is None:
        raise ValueError("P-frame without a reference frame")
    if len(fb) < 3:
        raise ValueError("truncated P-frame header")
    dx, dy = struct.unpack("<bb", fb[1:3])
    rec = np.roll(prev.reshape(h, w, 3), (dy, dx), axis=(0, 1)).copy()
    pos = 3
    blk_bytes = _BDV_BLK * _BDV_BLK * 3
    for by in range(0, h, _BDV_BLK):
        for bx in range(0, w, _BDV_BLK):
            if pos >= len(fb):
                raise ValueError("truncated P-frame block list")
            flag = fb[pos]
            pos += 1
            if flag == 1:
                res = np.frombuffer(
                    fb, dtype=np.uint8, count=blk_bytes, offset=pos
                ).reshape(_BDV_BLK, _BDV_BLK, 3)
                pos += blk_bytes
                blk = rec[by : by + _BDV_BLK, bx : bx + _BDV_BLK]
                rec[by : by + _BDV_BLK, bx : bx + _BDV_BLK] = (
                    blk.astype(np.int64) + res
                ) % 256
            elif flag != 0:
                raise ValueError("unknown BDV block flag")
    if pos != len(fb):
        raise ValueError("P-frame size disagrees with block list")
    return rec.astype(np.uint8).ravel()


def decode_avi_bdv(payload: bytes, frame_decode=decode_bdv_frame):
    """Full sequential decode: the container walk is _avi_scan/_avi_chunks
    (shared with MJPEG); every '00dc' chunk decodes against the running
    reconstruction.  Returns (w, h, [(frame_idx, flat uint8 RGB)]) —
    the decode_y4m seam contract."""
    b = bytes(payload)
    w, h, nf_declared, movi, idx_entries = _avi_scan(b)
    frames: list[tuple[int, "np.ndarray"]] = []
    state = None
    for scc, soff, ssz in _avi_chunks(b, movi[0] + 4, movi[1]):
        if scc != b"00dc":
            continue
        state = frame_decode(b[soff : soff + ssz], w, h, state)
        frames.append((len(frames), state))
    if nf_declared != len(frames):
        raise ValueError("avih frame count disagrees with movi")
    if idx_entries is not None and len(idx_entries) != len(frames):
        raise ValueError("idx1 entry count disagrees with movi")
    return w, h, frames


def _anchored_sampled_roll(
    frame_at, n, syncs, w, h, sample_every, frame_decode
):
    """The keyframe-anchored sparse reconstruction every inter-coded
    container shares; they differ only in how ``frame_at(k)`` finds the
    bytes of frame ``k`` of ``n``.  Each sampled ordinal rolls forward
    from the latest sync at or before it, or from the running
    reconstruction when that is closer (no frame decodes twice), so
    per-sampled-frame decode cost is bounded by the GOP length, not the
    stream length.  Returns [(frame_idx, flat uint8 RGB)]."""
    frames = []
    state = None
    pos = -1
    for f in range(0, n, sample_every):
        anchor = syncs[bisect.bisect_right(syncs, f) - 1]
        if state is None or anchor > pos or f < pos:
            start = anchor
            state = None
        else:
            start = pos + 1
        for k in range(start, f + 1):
            state = frame_decode(frame_at(k), w, h, state)
            pos = k
        frames.append((f, state))
    return frames


def decode_avi_bdv_sampled(
    payload: bytes, sample_every: int, frame_decode=decode_bdv_frame
):
    """Keyframe-ANCHORED sparse decode — the inter-frame case the
    MJPEG sparse path cannot represent: a sampled P-frame is not
    independently decodable, so the decoder seeks to the nearest
    preceding AVIIF_KEYFRAME idx1 entry and rolls the reconstruction
    forward.  Per-sampled-frame decode cost is therefore bounded by the
    GOP length (frames between keyframes), independent of stream
    length; when the running reconstruction is already closer than the
    anchor, it continues from there instead (never decodes a frame
    twice).  Both idx1 offset conventions accepted via _idx1_base.
    Without idx1 there is NO cheap seek for inter-coded video: the
    fallback decodes every frame up to the last sampled ordinal."""
    b = bytes(payload)
    w, h, nf_declared, movi, idx_entries = _avi_scan(b)
    frames: list[tuple[int, "np.ndarray"]] = []
    if idx_entries is not None:
        if nf_declared != len(idx_entries):
            raise ValueError("avih frame count disagrees with idx1")
        base = _idx1_base(b, movi, idx_entries)
        keyframes = [
            k
            for k, (_ck, flags, _off, _sz) in enumerate(idx_entries)
            if flags & 0x10
        ]
        if not keyframes or keyframes[0] != 0:
            raise ValueError("stream does not open with a keyframe")

        def chunk_at(k: int) -> bytes:
            ckid, _flags, coff, csz = idx_entries[k]
            at = base + coff
            if b[at : at + 4] != ckid:
                raise ValueError("idx1 offset does not land on its ckid")
            (sz_here,) = struct.unpack("<I", b[at + 4 : at + 8])
            if sz_here != csz or at + 8 + csz > movi[1]:
                raise ValueError("idx1 length disagrees with chunk")
            return b[at + 8 : at + 8 + csz]

        frames = _anchored_sampled_roll(
            chunk_at, len(idx_entries), keyframes, w, h, sample_every,
            frame_decode,
        )
    else:
        # inter coding without an index: every frame up to the last
        # sampled ordinal must decode (contrast: MJPEG skips for free)
        state = None
        ordinal = 0
        last_sampled = ((nf_declared - 1) // sample_every) * sample_every
        for scc, soff, ssz in _avi_chunks(b, movi[0] + 4, movi[1]):
            if scc != b"00dc":
                continue
            if ordinal <= last_sampled:
                state = frame_decode(b[soff : soff + ssz], w, h, state)
                if ordinal % sample_every == 0:
                    frames.append((ordinal, state))
            ordinal += 1
        if nf_declared != ordinal:
            raise ValueError("avih frame count disagrees with movi")
    return w, h, frames


# --- MP4-style box-tree container: BDV inside an ISO-BMFF subset ----------
#
# A CONTAINER class, not a codec class: the other video fixtures are
# Y4M or RIFF/AVI
# (flat chunk list + optional idx1).  MB4 carries the SAME BDV
# inter-frame bitstream inside a minimal ISO-BMFF (MP4-family) box
# tree — length-prefixed nested boxes, ISO/IEC 14496-12 layout:
#
#   ftyp | moov ( mvhd, trak ( tkhd, mdia ( mdhd, hdlr,
#          minf ( vmhd, dinf(dref), stbl ( stsd stts stsc stsz
#          stco stss ) ) ) ) ) | mdat
#
# What this class exercises that AVI cannot: sample ACCESS is entirely
# table-driven — a sample's bytes are found by composing FOUR stbl
# tables (stsc chunk mapping → stco chunk offset → stsz intra-chunk
# size prefix sum → mdat slice), and the keyframe map (stss) is a
# first-class table rather than a per-chunk flag word.  The sampled
# decode therefore performs index-driven sparse access THROUGH the
# nested container: seek to the stss anchor's sample offset, roll the
# BDV reconstruction forward — the same GOP-bounded cost the AVI path
# proves, with the offsets derived from the sample tables instead of a
# flat index (and no index-less fallback exists: in this container
# family the sample table IS the container).  The frame bitstreams,
# frame decoder and feature seam are shared verbatim with the AVI-BDV
# path (decode_bdv_frame, _y4m_features_with).
#
# Fixture geometry deliberately differs from the AVI-BDV fixture
# (wider w/h ranges, 6-12 frames → up to 4 GOPs) so the two queries
# certify different decoded values.

_MB4_BRAND = b"sgbd"
_MB4_TIMESCALE = 1000


def _mb4_geom(doc_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames): block-aligned dims, 6..12 frames so
    sampling (every 4th) crosses 2-4 GOPs and all three phases."""
    return 8 + (doc_id % 4) * 4, 4 + (doc_id % 3) * 4, 6 + doc_id % 7


def _mb4_box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _mb4_full(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _mb4_box(
        btype, bytes([version]) + flags.to_bytes(3, "big") + payload
    )


def _mp4_moov(
    w: int, h: int, nf: int, tables: bytes, mvex: bytes = b""
) -> bytes:
    """The movie box of a one-track BDV file: mvhd, and a trak whose
    stbl holds the 'bdv1' sample description followed by ``tables``;
    ``mvex`` closes the moov.  ``nf`` sets the mvhd/tkhd/mdhd durations;
    a fragmented file passes 0, since its fragments own the timeline."""
    dur_mv = nf * _MB4_TIMESCALE // _BDV_FPS
    matrix = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    mvhd = _mb4_full(
        b"mvhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, _MB4_TIMESCALE, dur_mv)
        + struct.pack(">iHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + matrix
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = _mb4_full(
        b"tkhd",
        0,
        7,
        struct.pack(">IIIII", 0, 0, 1, 0, dur_mv)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + matrix
        + struct.pack(">II", w << 16, h << 16),
    )
    mdhd = _mb4_full(
        b"mdhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, _BDV_FPS, nf)
        + struct.pack(">HH", 0x55C4, 0),  # 'und' language
    )
    hdlr = _mb4_full(
        b"hdlr", 0, 0, struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"\x00"
    )
    vmhd = _mb4_full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _mb4_full(
        b"dref", 0, 0, struct.pack(">I", 1) + _mb4_full(b"url ", 0, 1, b"")
    )
    dinf = _mb4_box(b"dinf", dref)
    # VisualSampleEntry 'bdv1' (86 bytes): the sample description
    # carries the authoritative dims (tkhd's 16.16 pair must agree)
    entry = (
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)
    )
    stsd = _mb4_full(
        b"stsd", 0, 0, struct.pack(">I", 1) + _mb4_box(b"bdv1", entry)
    )
    stbl = _mb4_box(b"stbl", stsd + tables)
    minf = _mb4_box(b"minf", vmhd + dinf + stbl)
    mdia = _mb4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mb4_box(b"trak", tkhd + mdia)
    return _mb4_box(b"moov", mvhd + trak + mvex)


def _encode_mb4_bytes(doc_id: int) -> bytes:
    """A genuine minimal MP4-family file: two-pass layout (the moov's
    byte size is offset-independent, so pass 1 measures it with zeroed
    stco entries and pass 2 fills the absolute mdat offsets — the
    standard progressive ftyp/moov/mdat order)."""
    w, h, enc = _bdv_stream(doc_id, _mb4_geom)
    nf = len(enc)
    # one chunk per GOP: stsc gets a real run-length encoding to walk
    chunk_counts = [
        min(BDV_GOP, nf - s) for s in range(0, nf, BDV_GOP)
    ]
    chunk_intra = []
    pos = 0
    k = 0
    for cc in chunk_counts:
        chunk_intra.append(pos)
        for _ in range(cc):
            pos += len(enc[k])
            k += 1
    mdat_payload = b"".join(enc)

    ftyp = _mb4_box(
        b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom" + _MB4_BRAND
    )

    def build_moov(chunk_offsets: list[int]) -> bytes:
        stts = _mb4_full(
            b"stts", 0, 0, struct.pack(">III", 1, nf, 1)
        )
        # run-length stsc: emit an entry only when samples_per_chunk
        # changes (here: at chunk 1, and at the last chunk if short)
        stsc_entries = [(1, chunk_counts[0])]
        for i, cc in enumerate(chunk_counts[1:], start=2):
            if cc != stsc_entries[-1][1]:
                stsc_entries.append((i, cc))
        stsc = _mb4_full(
            b"stsc",
            0,
            0,
            struct.pack(">I", len(stsc_entries))
            + b"".join(
                struct.pack(">III", fc, spc, 1)
                for fc, spc in stsc_entries
            ),
        )
        stsz = _mb4_full(
            b"stsz",
            0,
            0,
            struct.pack(">II", 0, nf)
            + b"".join(struct.pack(">I", len(e)) for e in enc),
        )
        stco = _mb4_full(
            b"stco",
            0,
            0,
            struct.pack(">I", len(chunk_offsets))
            + b"".join(struct.pack(">I", o) for o in chunk_offsets),
        )
        syncs = [f + 1 for f in range(nf) if f % BDV_GOP == 0]
        stss = _mb4_full(
            b"stss",
            0,
            0,
            struct.pack(">I", len(syncs))
            + b"".join(struct.pack(">I", s) for s in syncs),
        )
        return _mp4_moov(w, h, nf, stts + stsc + stsz + stco + stss)

    moov_len = len(build_moov([0] * len(chunk_counts)))
    base = len(ftyp) + moov_len + 8  # + mdat box header
    moov = build_moov([base + o for o in chunk_intra])
    if len(moov) != moov_len:
        raise AssertionError("moov size changed between passes")
    return ftyp + moov + _mb4_box(b"mdat", mdat_payload)


def _mb4_boxes(b: bytes, pos: int, end: int):
    """Iterate (type, payload_start, payload_end) over a box sequence;
    malformed sizes fail loudly (32-bit sizes only in this subset)."""
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated box header")
        (size,) = struct.unpack(">I", b[pos : pos + 4])
        btype = b[pos + 4 : pos + 8]
        if size < 8 or pos + size > end:
            raise ValueError(f"bad box size for {btype!r}")
        yield btype, pos + 8, pos + size
        pos += size


def _mb4_find(b: bytes, pos: int, end: int, btype: bytes) -> tuple[int, int]:
    hits = [
        (ps, pe) for t, ps, pe in _mb4_boxes(b, pos, end) if t == btype
    ]
    if len(hits) != 1:
        raise ValueError(f"expected exactly one {btype!r}, got {len(hits)}")
    return hits[0]


def _mb4_scan(b: bytes):
    """Walk the full box tree and return (w, h, sample_offsets,
    sample_sizes, sync_set) with every cross-table consistency rule
    enforced: brand, handler, stsd↔tkhd dims, stts↔stsz↔mdhd counts,
    stsc chunk expansion vs stco, offsets inside mdat."""
    top = list(_mb4_boxes(b, 0, len(b)))
    if not top or top[0][0] != b"ftyp":
        raise ValueError("file does not start with ftyp")
    fps_, fpe_ = top[0][1], top[0][2]
    if _MB4_BRAND not in b[fps_:fpe_]:
        raise ValueError("compatible-brand list lacks the BDV brand")
    moov = _mb4_find(b, 0, len(b), b"moov")
    mdat = _mb4_find(b, 0, len(b), b"mdat")
    trak = _mb4_find(b, *moov, b"trak")
    tkhd = _mb4_find(b, *trak, b"tkhd")
    tk = b[tkhd[0] : tkhd[1]]
    tk_w, tk_h = struct.unpack(">II", tk[-8:])
    mdia = _mb4_find(b, *trak, b"mdia")
    mdhd = _mb4_find(b, *mdia, b"mdhd")
    (md_dur,) = struct.unpack(
        ">I", b[mdhd[0] + 16 : mdhd[0] + 20]
    )
    hdlr = _mb4_find(b, *mdia, b"hdlr")
    if b[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
        raise ValueError("handler is not a video track")
    minf = _mb4_find(b, *mdia, b"minf")
    stbl = _mb4_find(b, *minf, b"stbl")

    stsd = _mb4_find(b, *stbl, b"stsd")
    (n_desc,) = struct.unpack(">I", b[stsd[0] + 4 : stsd[0] + 8])
    if n_desc != 1:
        raise ValueError("expected one sample description")
    fmt, es, ee = next(_mb4_boxes(b, stsd[0] + 8, stsd[1]))
    if fmt != b"bdv1":
        raise ValueError("sample entry is not bdv1")
    w, h = struct.unpack(">HH", b[es + 24 : es + 28])
    if (tk_w >> 16, tk_h >> 16) != (w, h):
        raise ValueError("tkhd dims disagree with the sample entry")

    stts = _mb4_find(b, *stbl, b"stts")
    n_tt, cnt, delta = struct.unpack(
        ">III", b[stts[0] + 4 : stts[0] + 16]
    )
    if n_tt != 1 or delta != 1:
        raise ValueError("expected a single unit-delta stts run")

    stsz = _mb4_find(b, *stbl, b"stsz")
    fixed, n_sz = struct.unpack(">II", b[stsz[0] + 4 : stsz[0] + 12])
    if fixed != 0:
        raise ValueError("expected per-sample stsz sizes")
    if n_sz != cnt or n_sz != md_dur:
        raise ValueError("stsz/stts/mdhd sample counts disagree")
    if stsz[0] + 12 + 4 * n_sz > stsz[1]:
        raise ValueError("truncated stsz table")
    sizes = list(
        struct.unpack(f">{n_sz}I", b[stsz[0] + 12 : stsz[0] + 12 + 4 * n_sz])
    )

    stco = _mb4_find(b, *stbl, b"stco")
    (n_ch,) = struct.unpack(">I", b[stco[0] + 4 : stco[0] + 8])
    offs = list(
        struct.unpack(f">{n_ch}I", b[stco[0] + 8 : stco[0] + 8 + 4 * n_ch])
    )

    stsc = _mb4_find(b, *stbl, b"stsc")
    (n_sc,) = struct.unpack(">I", b[stsc[0] + 4 : stsc[0] + 8])
    runs = [
        struct.unpack(
            ">III", b[stsc[0] + 8 + 12 * i : stsc[0] + 20 + 12 * i]
        )
        for i in range(n_sc)
    ]
    # expand the run-length stsc over the stco chunk list
    per_chunk = []
    for i, (fc, spc, sdi) in enumerate(runs):
        if sdi != 1:
            raise ValueError("unknown sample description index")
        last = runs[i + 1][0] - 1 if i + 1 < len(runs) else n_ch
        if fc > last:
            raise ValueError("stsc runs are not ascending")
        per_chunk.extend([spc] * (last - fc + 1))
    if len(per_chunk) != n_ch or sum(per_chunk) != n_sz:
        raise ValueError("stsc expansion disagrees with stco/stsz")

    sample_offsets = []
    k = 0
    for c, spc in enumerate(per_chunk):
        pos = offs[c]
        for _ in range(spc):
            sample_offsets.append(pos)
            pos += sizes[k]
            k += 1
    for o, s in zip(sample_offsets, sizes):
        if o < mdat[0] or o + s > mdat[1]:
            raise ValueError("sample falls outside mdat")

    stss = _mb4_find(b, *stbl, b"stss")
    (n_ss,) = struct.unpack(">I", b[stss[0] + 4 : stss[0] + 8])
    syncs = struct.unpack(
        f">{n_ss}I", b[stss[0] + 8 : stss[0] + 8 + 4 * n_ss]
    )
    if not syncs or syncs[0] != 1:
        raise ValueError("stream does not open with a sync sample")
    if any(s < 1 or s > n_sz for s in syncs):
        raise ValueError("stss entry out of range")
    return w, h, sample_offsets, sizes, sorted(s - 1 for s in syncs)


def decode_mb4_bdv(payload: bytes, frame_decode=decode_bdv_frame):
    """Full sequential decode through the sample tables — the
    (w, h, [(frame_idx, flat uint8)]) seam contract."""
    b = bytes(payload)
    w, h, offs, sizes, _syncs = _mb4_scan(b)
    frames = []
    state = None
    for f, (o, s) in enumerate(zip(offs, sizes)):
        state = frame_decode(b[o : o + s], w, h, state)
        frames.append((f, state))
    return w, h, frames


def decode_mb4_bdv_sampled(
    payload: bytes, sample_every: int, frame_decode=decode_bdv_frame
):
    """Keyframe-anchored sparse decode via the sample tables: for each
    sampled ordinal, seek to the latest stss sync at or before it (a
    direct byte offset composed from stsc→stco→stsz — no scan of mdat)
    and roll the BDV reconstruction forward; when the running state is
    already closer, continue from it.  Per-sampled-frame decode cost is
    GOP-bounded exactly as the AVI path (tests/test_mb4.py asserts the
    decoder-call bound).  There is no index-less fallback in this
    container family: the sample table IS the container."""
    b = bytes(payload)
    w, h, offs, sizes, syncs = _mb4_scan(b)
    return w, h, _anchored_sampled_roll(
        lambda k: b[offs[k] : offs[k] + sizes[k]], len(offs), syncs, w, h,
        sample_every, frame_decode,
    )


# --- FV4: FRAGMENTED ISO-BMFF container (moof/mfhd/traf/tfhd/tfdt/trun) -----
#
# The streaming-container class: where MB4's monolithic
# moov carries the complete sample tables up front, a fragmented file
# declares an EMPTY movie box (stbl with zero-entry stts/stsc/stsz/stco
# plus an mvex/trex defaults box) and ships the sample map
# incrementally — one moof (movie fragment) box per GOP, each carrying
# its own mfhd sequence number, tfhd track defaults, tfdt decode-time
# anchor, and a trun run whose per-sample sizes + data offset resolve
# into the mdat that IMMEDIATELY follows.  This exercises incremental
# container parsing the monolithic walk cannot: the reader never sees a
# global table — it accumulates the (offsets, sizes, syncs) sample map
# fragment by fragment, enforcing the cross-fragment continuity rules
# (contiguous mfhd sequence, tfdt == samples seen so far, full mdat
# coverage) as it goes.  Keyframe signaling moves from stss into the
# trun sample flags: the first sample of every fragment carries sync
# first_sample_flags; trex's default flags mark the rest non-sync.
# The payload is the SAME BDV bitstream over the fixture's own
# geometry, and the sparse decode reuses _anchored_sampled_roll —
# the containers differ only in sample-map resolution.
# Reference parity: the reference stores media as opaque uploaded files
# (api/main.py upload surface); the container decoders are the
# charter's scale extension (SURVEY.md §2.12).

_FMP4_BRAND = b"sgbf"
_TFHD_BASE_IS_MOOF = 0x020000
_TRUN_FLAGS = 0x000205  # data-offset | first-sample-flags | sample-size
_FMP4_SYNC = 0x02000000  # depends_on=2 (I-frame), non_sync bit clear
_FMP4_NONSYNC = 0x01010000  # depends_on=1, sample_is_non_sync_sample


def _fmp4_geom(doc_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames): the fixture's OWN geometry (distinct
    from MB4's) — 7..12 frames so every file spans 3-4 fragments."""
    return 8 + (doc_id % 3) * 4, 4 + (doc_id % 4) * 4, 7 + doc_id % 6


def _encode_fmp4_bytes(doc_id: int) -> bytes:
    """A genuine minimal fragmented MP4-family file:
    ftyp | moov(mvhd, trak(... empty stbl), mvex(trex)) |
    [moof(mfhd, traf(tfhd, tfdt, trun)) mdat]* — one fragment per GOP.
    The trun's data_offset is moof-relative (default-base-is-moof), so
    each fragment is self-contained: no absolute file offsets anywhere,
    which is what lets a real muxer emit fragments as the stream
    arrives."""
    w, h, enc = _bdv_stream(doc_id, _fmp4_geom)
    gops = [enc[i : i + BDV_GOP] for i in range(0, len(enc), BDV_GOP)]

    ftyp = _mb4_box(
        b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom" + _FMP4_BRAND
    )
    # the fragmented discipline: every fixed table is declared EMPTY,
    # and the movie-box durations are 0
    stts = _mb4_full(b"stts", 0, 0, struct.pack(">I", 0))
    stsc = _mb4_full(b"stsc", 0, 0, struct.pack(">I", 0))
    stsz = _mb4_full(b"stsz", 0, 0, struct.pack(">II", 0, 0))
    stco = _mb4_full(b"stco", 0, 0, struct.pack(">I", 0))
    trex = _mb4_full(
        b"trex",
        0,
        0,
        struct.pack(">IIIII", 1, 1, 1, 0, _FMP4_NONSYNC),
    )
    moov = _mp4_moov(
        w, h, 0, stts + stsc + stsz + stco, _mb4_box(b"mvex", trex)
    )

    out = [ftyp, moov]
    decode_time = 0
    for g, frames_g in enumerate(gops):

        def build_moof(data_offset: int) -> bytes:
            mfhd = _mb4_full(b"mfhd", 0, 0, struct.pack(">I", g + 1))
            tfhd = _mb4_full(
                b"tfhd", 0, _TFHD_BASE_IS_MOOF, struct.pack(">I", 1)
            )
            tfdt = _mb4_full(
                b"tfdt", 1, 0, struct.pack(">Q", decode_time)
            )
            trun = _mb4_full(
                b"trun",
                0,
                _TRUN_FLAGS,
                struct.pack(
                    ">IiI", len(frames_g), data_offset, _FMP4_SYNC
                )
                + b"".join(struct.pack(">I", len(e)) for e in frames_g),
            )
            traf = _mb4_box(b"traf", tfhd + tfdt + trun)
            return _mb4_box(b"moof", mfhd + traf)

        # two-pass: the offset field is fixed-width, so the moof's size
        # is identical in both passes
        moof_len = len(build_moof(0))
        moof = build_moof(moof_len + 8)  # samples start after mdat hdr
        if len(moof) != moof_len:
            raise AssertionError("moof size changed between passes")
        out.append(moof)
        out.append(_mb4_box(b"mdat", b"".join(frames_g)))
        decode_time += len(frames_g)
    return b"".join(out)


def _fmp4_scan(b: bytes):
    """Incrementally accumulate (w, h, sample_offsets, sample_sizes,
    sync_set) from the fragment chain, enforcing every cross-fragment
    consistency rule: brand, handler, tkhd↔stsd dims, EMPTY movie-box
    sample tables, trex defaults, strictly alternating moof/mdat pairs,
    contiguous mfhd sequence numbers, tfdt == samples accumulated so
    far, trun full-coverage of its fragment's mdat, and sync-flagged
    fragment openers."""
    top = list(_mb4_boxes(b, 0, len(b)))
    if not top or top[0][0] != b"ftyp":
        raise ValueError("file does not start with ftyp")
    if _FMP4_BRAND not in b[top[0][1] : top[0][2]]:
        raise ValueError("compatible-brand list lacks the fragmented brand")
    moov = _mb4_find(b, 0, len(b), b"moov")
    trak = _mb4_find(b, *moov, b"trak")
    tkhd = _mb4_find(b, *trak, b"tkhd")
    tk_w, tk_h = struct.unpack(">II", b[tkhd[0] : tkhd[1]][-8:])
    mdia = _mb4_find(b, *trak, b"mdia")
    hdlr = _mb4_find(b, *mdia, b"hdlr")
    if b[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
        raise ValueError("handler is not a video track")
    minf = _mb4_find(b, *mdia, b"minf")
    stbl = _mb4_find(b, *minf, b"stbl")
    stsd = _mb4_find(b, *stbl, b"stsd")
    (n_desc,) = struct.unpack(">I", b[stsd[0] + 4 : stsd[0] + 8])
    if n_desc != 1:
        raise ValueError("expected one sample description")
    fmt, es, _ee = next(_mb4_boxes(b, stsd[0] + 8, stsd[1]))
    if fmt != b"bdv1":
        raise ValueError("sample entry is not bdv1")
    w, h = struct.unpack(">HH", b[es + 24 : es + 28])
    if (tk_w >> 16, tk_h >> 16) != (w, h):
        raise ValueError("tkhd dims disagree with the sample entry")
    # the movie box must declare NO samples — fragments own them all
    stsz = _mb4_find(b, *stbl, b"stsz")
    fixed, n_sz = struct.unpack(">II", b[stsz[0] + 4 : stsz[0] + 12])
    if fixed != 0 or n_sz != 0:
        raise ValueError("fragmented file declares moov-resident samples")
    stco = _mb4_find(b, *stbl, b"stco")
    if struct.unpack(">I", b[stco[0] + 4 : stco[0] + 8])[0] != 0:
        raise ValueError("fragmented file declares moov-resident chunks")
    mvex = _mb4_find(b, *moov, b"mvex")
    trex = _mb4_find(b, *mvex, b"trex")
    trex_tid, _dsdi, _ddur, _dsz, dflags = struct.unpack(
        ">IIIII", b[trex[0] + 4 : trex[0] + 24]
    )
    if dflags & 0x010000 == 0:
        raise ValueError("trex default flags must mark non-sync samples")

    frags = [
        (t, ps, pe) for t, ps, pe in top if t in (b"moof", b"mdat")
    ]
    if not frags or len(frags) % 2 != 0 or any(
        t != (b"moof" if i % 2 == 0 else b"mdat")
        for i, (t, _, _) in enumerate(frags)
    ):
        raise ValueError("fragments must alternate moof, mdat")

    offs: list[int] = []
    sizes: list[int] = []
    syncs: list[int] = []
    for i in range(0, len(frags), 2):
        _t, ms, me = frags[i]
        _t2, ds, de = frags[i + 1]
        moof_start = ms - 8
        mfhd = _mb4_find(b, ms, me, b"mfhd")
        (seq,) = struct.unpack(">I", b[mfhd[0] + 4 : mfhd[0] + 8])
        if seq != i // 2 + 1:
            raise ValueError("mfhd sequence numbers are not contiguous")
        traf = _mb4_find(b, ms, me, b"traf")
        tfhd = _mb4_find(b, *traf, b"tfhd")
        tf_flags = int.from_bytes(b[tfhd[0] + 1 : tfhd[0] + 4], "big")
        (tf_tid,) = struct.unpack(">I", b[tfhd[0] + 4 : tfhd[0] + 8])
        if tf_tid != trex_tid:
            raise ValueError("fragment addresses an unknown track")
        if tf_flags & _TFHD_BASE_IS_MOOF == 0:
            raise ValueError("tfhd must set default-base-is-moof")
        tfdt = _mb4_find(b, *traf, b"tfdt")
        (bmdt,) = struct.unpack(">Q", b[tfdt[0] + 4 : tfdt[0] + 12])
        if bmdt != len(offs):
            raise ValueError("tfdt breaks cross-fragment continuity")
        trun = _mb4_find(b, *traf, b"trun")
        tr_flags = int.from_bytes(b[trun[0] + 1 : trun[0] + 4], "big")
        if tr_flags != _TRUN_FLAGS:
            raise ValueError("unsupported trun flag combination")
        n, doff, first_flags = struct.unpack(
            ">IiI", b[trun[0] + 4 : trun[0] + 16]
        )
        if n < 1:
            raise ValueError("empty trun run")
        if first_flags & 0x010000:
            raise ValueError("fragment does not open with a sync sample")
        run_sizes = struct.unpack(
            f">{n}I", b[trun[0] + 16 : trun[0] + 16 + 4 * n]
        )
        pos = moof_start + doff
        if pos != ds:
            raise ValueError("trun data offset misses its mdat payload")
        syncs.append(len(offs))
        for s in run_sizes:
            offs.append(pos)
            sizes.append(s)
            pos += s
        if pos != de:
            raise ValueError("trun run does not cover its mdat exactly")
    if not offs:
        raise ValueError("no fragments carry samples")
    return w, h, offs, sizes, syncs


def decode_fmp4_bdv(payload: bytes, frame_decode=decode_bdv_frame):
    """Full sequential decode through the fragment chain — the
    (w, h, [(frame_idx, flat uint8)]) seam contract."""
    b = bytes(payload)
    w, h, offs, sizes, _syncs = _fmp4_scan(b)
    frames = []
    state = None
    for f, (o, s) in enumerate(zip(offs, sizes)):
        state = frame_decode(b[o : o + s], w, h, state)
        frames.append((f, state))
    return w, h, frames


def decode_fmp4_bdv_sampled(
    payload: bytes, sample_every: int, frame_decode=decode_bdv_frame
):
    """Fragment-anchored sparse decode: the accumulated sample map
    feeds the SAME keyframe-anchored roll as the monolithic container
    (syncs are the fragment openers), so per-sampled-frame decode cost
    is GOP-bounded identically (tests/test_fmp4.py asserts the
    decoder-call bound)."""
    b = bytes(payload)
    w, h, offs, sizes, syncs = _fmp4_scan(b)
    return w, h, _anchored_sampled_roll(
        lambda k: b[offs[k] : offs[k] + sizes[k]], len(offs), syncs, w, h,
        sample_every, frame_decode,
    )


# --- STS: transport-stream (MPEG-TS-style packetized) container ------------
#
# The third container class, after the monolithic sample-table walk
# (MB4) and the fragmented per-GOP sample map (FV4): a PACKETIZED
# transport — the shape broadcast/streaming capture actually arrives
# in, where nothing is a file-level table and everything is a chain of
# fixed 188-byte packets demultiplexed by PID.  The subset is faithful
# to the MPEG-TS layering: a 4-byte packet header (0x47 sync, PUSI,
# 13-bit PID, 2-bit adaptation-field control, 4-bit continuity
# counter), adaptation-field stuffing for the final short packet of
# each payload, PSI signalling (a PAT on PID 0 naming the PMT PID, a
# PMT naming the elementary video PID and carrying the stream geometry
# descriptor, both CRC32-protected), and PES-like packets (start code
# 0x000001, stream id, payload length, frame index, keyframe flag)
# reassembled across packets at PUSI boundaries.  The decoder is a
# real demultiplexer: it enforces sync bytes, per-PID continuity
# (a lost packet is DETECTED, not silently skipped), PSI CRCs, PES
# length accounting, and PAT→PMT→ES referential integrity — then hands
# the reassembled BDV frames to the same reconstruction chain the
# other containers use.  Sampled decode: a transport stream has no
# random-access index, so the packet scan/reassembly touches every
# packet (inherent to the class, and cheap — it is bounded by container
# bytes, not pixel work), while the EXPENSIVE step — frame_decode — is
# keyframe-anchored exactly as MB4/FV4 (the PES keyframe flags are the
# sync set; tests/test_sts.py asserts the same GOP-bounded call count).
# The payload is the SAME BDV bitstream over the fixture's own
# geometry.  Reference parity: media arrives as opaque uploaded files
# (api/main.py upload surface); the container decoders are the
# charter's scale extension (SURVEY.md §2.12).

_TS_PKT = 188
_TS_BODY = _TS_PKT - 4
_TS_SYNC = 0x47
_TS_PID_PAT = 0x000
_TS_STREAM_ID = 0xE0
_TS_PES_HDR = 9  # 00 00 01 | stream_id | len(2) | frame_idx(2) | key(1)


def _sts_geom(doc_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames): the fixture's OWN geometry (distinct
    from MB4's and FV4's); 6..10 frames spans 2-4 GOPs."""
    return 12 + (doc_id % 2) * 4, 4 + (doc_id % 3) * 4, 6 + doc_id % 5


def _sts_pids(doc_id: int) -> tuple[int, int]:
    """(pmt_pid, video_pid), doc-varying so the demux is never
    hard-coded to a constant beyond the spec'd PAT PID 0."""
    pmt = 0x100 + doc_id % 16
    return pmt, pmt + 0x20


def _ts_packets(pid: int, cc0: int, payload: bytes) -> tuple[list[bytes], int]:
    """Packetize one payload unit onto ``pid`` starting at continuity
    counter ``cc0``: PUSI set on the first packet, adaptation-field
    stuffing pads the final short packet.  Returns (packets, next_cc)."""
    out = []
    cc = cc0
    pos = 0
    first = True
    while pos < len(payload) or first:
        chunk = payload[pos : pos + _TS_BODY]
        pos += len(chunk)
        first_flag = 0x40 if first else 0x00
        first = False
        hdr12 = (first_flag | (pid >> 8)) & 0xFF
        if len(chunk) == _TS_BODY:
            head = bytes([_TS_SYNC, hdr12, pid & 0xFF, 0x10 | cc])
            out.append(head + chunk)
        else:
            af_len = _TS_BODY - 1 - len(chunk)
            head = bytes([_TS_SYNC, hdr12, pid & 0xFF, 0x30 | cc])
            af = bytes([af_len]) + b"\xff" * af_len
            pkt = head + af + chunk
            if len(pkt) != _TS_PKT:
                raise AssertionError("packetizer arithmetic broke")
            out.append(pkt)
        cc = (cc + 1) & 0xF
    return out, cc


def _sts_section(table_id: int, body: bytes) -> bytes:
    """A PSI-style section: pointer_field | table_id | length | body |
    CRC32 over table_id..body (zlib/IEEE CRC — the subset's documented
    stand-in for the MPEG-2 PSI polynomial)."""
    sec = bytes([table_id]) + struct.pack(">H", len(body)) + body
    return b"\x00" + sec + struct.pack(">I", zlib.crc32(sec) & 0xFFFFFFFF)


def _encode_sts_bytes(doc_id: int) -> bytes:
    """A genuine packetized transport stream: PAT, PMT, then one PES
    payload unit per frame, each packetized with continuity counters
    per PID and adaptation-field stuffing."""
    w, h, enc = _bdv_stream(doc_id, _sts_geom)
    pmt_pid, video_pid = _sts_pids(doc_id)
    pkts: list[bytes] = []
    pat = _sts_section(0x00, struct.pack(">HH", 1, pmt_pid))
    p, _ = _ts_packets(_TS_PID_PAT, 0, pat)
    pkts += p
    pmt = _sts_section(
        0x02, struct.pack(">HBHHH", video_pid, 0x06, w, h, len(enc))
    )
    p, _ = _ts_packets(pmt_pid, 0, pmt)
    pkts += p
    cc = 0
    for f, fb in enumerate(enc):
        key = 1 if f % BDV_GOP == 0 else 0
        pes = (
            b"\x00\x00\x01"
            + bytes([_TS_STREAM_ID])
            + struct.pack(">HHB", len(fb), f, key)
            + fb
        )
        p, cc = _ts_packets(video_pid, cc, pes)
        pkts += p
    return b"".join(pkts)


def _ts_depacketize(b: bytes) -> dict:
    """Demultiplex the packet chain: validate sync bytes, split per
    PID, enforce per-PID continuity counters (a lost or duplicated
    payload packet fails LOUDLY), strip adaptation fields, and cut the
    byte stream at PUSI boundaries.  Returns {pid: [payload_unit, ...]}
    in arrival order."""
    if len(b) % _TS_PKT != 0:
        raise ValueError("stream is not a whole number of packets")
    units: dict[int, list[bytes]] = {}
    open_buf: dict[int, bytearray] = {}
    last_cc: dict[int, int] = {}
    for i in range(0, len(b), _TS_PKT):
        pkt = b[i : i + _TS_PKT]
        if pkt[0] != _TS_SYNC:
            raise ValueError(f"lost sync at packet {i // _TS_PKT}")
        pusi = bool(pkt[1] & 0x40)
        pid = ((pkt[1] & 0x1F) << 8) | pkt[2]
        afc = (pkt[3] >> 4) & 0x3
        cc = pkt[3] & 0xF
        if pid in last_cc and cc != ((last_cc[pid] + 1) & 0xF):
            raise ValueError(f"continuity break on pid {pid:#x}")
        last_cc[pid] = cc
        body = pkt[4:]
        if afc == 0x3:
            af_len = body[0]
            body = body[1 + af_len :]
        elif afc != 0x1:
            raise ValueError("unsupported adaptation-field control")
        if pusi:
            if pid in open_buf:
                units.setdefault(pid, []).append(bytes(open_buf[pid]))
            open_buf[pid] = bytearray()
        if pid not in open_buf:
            raise ValueError(f"payload before first PUSI on pid {pid:#x}")
        open_buf[pid].extend(body)
    for pid, buf in open_buf.items():
        units.setdefault(pid, []).append(bytes(buf))
    return units


def _sts_parse_section(unit: bytes, want_table: int) -> bytes:
    if unit[0] != 0x00:
        raise ValueError("nonzero PSI pointer field")
    table_id = unit[1]
    if table_id != want_table:
        raise ValueError(f"expected table {want_table:#x}, got {table_id:#x}")
    (length,) = struct.unpack(">H", unit[2:4])
    body = unit[4 : 4 + length]
    (crc,) = struct.unpack(">I", unit[4 + length : 8 + length])
    if zlib.crc32(unit[1 : 4 + length]) & 0xFFFFFFFF != crc:
        raise ValueError("PSI section CRC mismatch")
    return body


def _sts_scan(b: bytes):
    """Full demux: PAT → PMT → geometry + ES PID, then PES reassembly
    with length/sequence accounting.  Returns (w, h, frames_bytes,
    sync_set) — the frame payloads in index order plus the
    keyframe-flag sync set."""
    units = _ts_depacketize(b)
    if _TS_PID_PAT not in units:
        raise ValueError("no PAT on PID 0")
    pat = _sts_parse_section(units[_TS_PID_PAT][0], 0x00)
    prog_num, pmt_pid = struct.unpack(">HH", pat)
    if prog_num != 1:
        raise ValueError("expected program 1")
    if pmt_pid not in units:
        raise ValueError("PAT names a PMT PID with no packets")
    pmt = _sts_parse_section(units[pmt_pid][0], 0x02)
    video_pid, stype, w, h, nf = struct.unpack(">HBHHH", pmt)
    if stype != 0x06:
        raise ValueError("unexpected stream type")
    if video_pid not in units:
        raise ValueError("PMT names an ES PID with no packets")
    pes_units = units[video_pid]
    if len(pes_units) != nf:
        raise ValueError("PES unit count disagrees with the PMT")
    frames: list[bytes] = []
    syncs: list[int] = []
    for i, u in enumerate(pes_units):
        if u[:3] != b"\x00\x00\x01" or u[3] != _TS_STREAM_ID:
            raise ValueError("bad PES start code / stream id")
        ln, fidx, key = struct.unpack(">HHB", u[4:9])
        if fidx != i:
            raise ValueError("PES frame index out of sequence")
        fb = u[_TS_PES_HDR:]
        if len(fb) != ln:
            raise ValueError("PES payload length mismatch")
        if key:
            syncs.append(i)
        frames.append(fb)
    if not syncs or syncs[0] != 0:
        raise ValueError("stream does not open with a keyframe")
    return w, h, frames, syncs


def decode_sts_bdv(payload: bytes, frame_decode=decode_bdv_frame):
    """Full sequential decode through the demultiplexer — the
    (w, h, [(frame_idx, flat uint8)]) seam contract."""
    w, h, fbs, _syncs = _sts_scan(bytes(payload))
    frames = []
    state = None
    for f, fb in enumerate(fbs):
        state = frame_decode(fb, w, h, state)
        frames.append((f, state))
    return w, h, frames


def decode_sts_bdv_sampled(
    payload: bytes, sample_every: int, frame_decode=decode_bdv_frame
):
    """Keyframe-anchored sparse decode over the demultiplexed stream:
    the packet scan/reassembly is linear in CONTAINER bytes (a
    transport stream has no random-access index — inherent to the
    class), but the expensive step, frame_decode, runs GOP-bounded per
    sampled frame exactly as the indexed containers (the PES keyframe
    flags are the sync set; tests/test_sts.py asserts the call
    bound)."""
    w, h, fbs, syncs = _sts_scan(bytes(payload))
    return w, h, _anchored_sampled_roll(
        fbs.__getitem__, len(fbs), syncs, w, h, sample_every, frame_decode
    )


# --- Cross-video duplicate-frame detection (fingerprint → hash groupBy) -----
#
# The training-pipeline op the video tier exists FOR: near-identical
# frames recur across a crawl (intros, slates, still shots), and frame-
# level dedup runs as fingerprint-then-group — each worker decodes its
# own payloads and emits a ~24-byte fingerprint per frame (exact n_bytes
# + byte-sum + position-weighted modular binding), then ONE hash groupBy
# over fingerprints finds duplicate groups.  No pixel ever shuffles:
# at 100 TB the exchange carries 3 integers per frame regardless of
# frame size, the same condense-before-shuffle shape as the MinHash and
# sketch tiers.  Fixtures engineer real collisions: video d draws its
# geometry and frame content from class (d % 4, f % 3) while its LENGTH
# varies independently (3 + d % 5 frames), so groups genuinely span
# videos and group sizes differ; payloads are genuine Y4M streams and
# the fingerprints come out of the same hand parser as
# video_frame_sample_y4m.  Reference analogue: media dedup on the ingest
# surface (api/main.py upload path hashes whole files); frame-level
# granularity is the charter's scale extension.

_Y4MD_CLS = 4  # content-class modulus over doc_id
_Y4MD_FRM = 3  # content-class modulus over frame index


def _y4md_geom(doc_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames): dims follow the CONTENT class so
    same-class frames are byte-identical; length varies per video."""
    k = doc_id % _Y4MD_CLS
    return 6 + k * 2, 4 + k * 2, 3 + doc_id % 5


def _y4md_frame(doc_id: int, f: int, w: int, h: int) -> "np.ndarray":
    k = doc_id % _Y4MD_CLS
    fc = f % _Y4MD_FRM
    idx = np.arange(w * h * 3, dtype=np.int64)
    return (
        (k * _Y4M_PIX_A + fc * _Y4M_PIX_F + idx * _Y4M_PIX_B) % 256
    ).astype(np.uint8)


_y4md_bytes = partial(_y4m_bytes, geom=_y4md_geom, frame=_y4md_frame)


_FP_SCHEMA = (
    "doc_id long, frame_idx int, n_bytes int,"
    " frame_sum long, idx_weighted long"
)


def _frame_fp_with(decode):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                w, h, frames = decode(payload)
                for f, px in frames:
                    v = px.astype(np.int64)
                    idx = np.arange(v.size, dtype=np.int64)
                    out.append(
                        (
                            int(doc_id), int(f), int(v.size),
                            int(v.sum()),
                            int(((idx % P) * v % P).sum()),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "frame_idx", "n_bytes",
                    "frame_sum", "idx_weighted",
                ],
            )

    return gen


def _frame_fp_rows(
    spark: SparkSession, sf_dir: str, decode=decode_y4m
) -> DataFrame:
    return _codec_media(spark, sf_dir, _y4md_bytes).mapInPandas(
        _frame_fp_with(decode), schema=_FP_SCHEMA
    )


def video_frame_dedup_y4m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-frame audit over every decoded frame of every video:
    fingerprints (exact length + byte sum + position-weighted modular
    binding) are grouped, and the one-row summary reports total/distinct/
    duplicated frame counts, how many duplicate groups span videos, and
    a keep-first binding (min (doc_id, frame_idx) representative × group
    size) that pins each group's composition.  Matching the closed-form
    oracle proves the decode AND the grouping end-to-end.

    PRODUCTION SWAP: the (length, byte-sum,
    position-weighted-mod) fingerprint is an ORACLE-PARITY device — the
    DuckDB oracle can re-derive it in closed form from the frame
    generators, which is what certifies decode+grouping end-to-end.  It
    is collision-prone on adversarial or real crawl data (sum and
    weighted-mod are linear, so engineered byte rearrangements can
    collide).  A production deployment swaps the fingerprint expression
    for a cryptographic/64-bit hash over the raw frame bytes —
    ``xxhash64(px.tobytes())`` or ``F.md5``-class — with the IDENTICAL
    plan shape: still 3 small columns per frame map-side, still one hash
    groupBy, no pixel ever shuffles.  The weighted binding does defeat
    the easy collision class (same multiset of bytes at different
    positions — see tests/test_frame_dedup.py's adversarial unit), which
    is why it's a position-weighted sum and not a plain sum."""
    fp = _frame_fp_rows(spark, sf_dir)
    rep = F.expr("min(doc_id * 8192 + frame_idx)")
    g = (
        fp.groupBy("n_bytes", "frame_sum", "idx_weighted")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.countDistinct("doc_id").alias("n_docs"),
            rep.alias("rep"),
        )
    )
    return g.agg(
        F.sum("sz").alias("n_frames"),
        F.count(F.lit(1)).alias("n_distinct_frames"),
        F.sum(F.when(F.col("sz") > 1, F.col("sz")).otherwise(0)).alias(
            "n_dup_frames"
        ),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
            "n_cross_video_groups"
        ),
        F.sum(
            F.expr(f"((rep % {P}) * (sz % {P})) % {P}")
        ).alias("group_binding"),
    )


# --- REAL image modality #4: GIF (LZW dictionary coding) --------------------
#
# GIF89a completes the entropy-codec taxonomy the seam certifies: PPM is
# raw bytes, PNG is DEFLATE (LZ77 + Huffman via zlib), JPEG is
# Huffman-coded DCT, mu-law is companding, ADPCM is adaptive prediction —
# GIF's LZW is the DICTIONARY-coding class none of those exercise:
# variable-width codes (9→12 bits, LSB-first packing), an adaptive
# string table with clear/EOI control codes, the KwKwK corner case, and
# 255-byte sub-block framing.  Same construction as every other codec
# tier: payloads are genuine GIF89a files (logical screen descriptor,
# 256-entry global color table, graphic-control extension, image
# descriptor, LZW raster) synthesized from closed-form index/palette
# generators, so the DuckDB oracle re-derives every decoded RGB byte
# without ever seeing the binary.  Reference analogue: the ingest surface
# accepts arbitrary media uploads (api/main.py upload + preview
# endpoints); decoding is delegated to libraries there — here the codec
# itself is under test behind the injection seam.

_GIF_PIX_A = 7919  # pixel index stream: idx(p) = (doc_id*A + p*B) % 256
_GIF_PIX_B = 97
_GIF_PAL_I = 83  # palette: pal(i, c) = (i*83 + c*59 + doc_id*31) % 256
_GIF_PAL_C = 59
_GIF_PAL_D = 31


def _gif_dims(doc_id: int) -> tuple[int, int]:
    return 10 + (doc_id % 6) * 4, 7 + (doc_id % 5) * 3  # (width, height)


def _gif_indices(doc_id: int) -> "np.ndarray":
    """Palette-index stream, closed form the oracle mirrors."""
    w, h = _gif_dims(doc_id)
    p = np.arange(w * h, dtype=np.int64)
    return ((doc_id * _GIF_PIX_A + p * _GIF_PIX_B) % 256).astype(np.uint8)


def _gif_palette(doc_id: int) -> "np.ndarray":
    """256×3 global color table, doc-bound so a palette mis-parse (not
    just an index mis-decode) breaks the checksum."""
    i = np.arange(256, dtype=np.int64)[:, None]
    c = np.arange(3, dtype=np.int64)[None, :]
    return (
        (i * _GIF_PAL_I + c * _GIF_PAL_C + doc_id * _GIF_PAL_D) % 256
    ).astype(np.uint8)


def _gif_pixels(doc_id: int) -> "np.ndarray":
    """Flat RGB after palette mapping — what decode must reproduce."""
    return _gif_palette(doc_id)[_gif_indices(doc_id)].reshape(-1)


class _LsbBitWriter:
    """LSB-first bit packer (GIF's LZW bit order — the transpose of
    JPEG's MSB-first _JpegBitWriter above)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytearray:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return self.out


def _lzw_encode(indices: "np.ndarray", min_code_size: int = 8) -> bytes:
    """GIF-flavor LZW: emits CLEAR first, grows code width when the next
    table slot would not fit, resets the table at 4096 (so long streams
    exercise the mid-stream CLEAR path), and terminates with EOI."""
    clear = 1 << min_code_size
    eoi = clear + 1
    bw = _LsbBitWriter()

    def fresh() -> tuple[dict, int, int]:
        return {}, eoi + 1, min_code_size + 1

    table, next_code, width = fresh()
    bw.write(clear, width)
    w = int(indices[0])
    for k in map(int, indices[1:]):
        ext = table.get((w, k))
        if ext is not None:
            w = ext
            continue
        bw.write(w, width)
        table[(w, k)] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            bw.write(clear, width)
            table, next_code, width = fresh()
        w = k
    bw.write(w, width)
    bw.write(eoi, width)
    return bytes(bw.flush())


def _lzw_decode(
    data: bytes, min_code_size: int, n_expected: int
) -> "np.ndarray":
    """Mirror of :func:`_lzw_encode`: variable-width LSB-first codes,
    CLEAR resets, the KwKwK case (code == next unassigned slot), and an
    output cap so a corrupt stream cannot balloon memory."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # table maps code -> byte string; base codes are single symbols
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code_size + 1
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated before EOI")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("first LZW code not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW code beyond table")
        out += entry
        if len(out) > n_expected:
            raise ValueError("LZW output exceeds raster size")
        prev = entry
        # The decoder's table is one entry behind the encoder's at each
        # read (the classic LZW lag), so it must widen one append EARLIER
        # than the encoder's post-add `next_code > 2^width` rule: when
        # len(table) reaches 2^width, the NEXT code on the wire was
        # already written at width+1.
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) != n_expected:
        raise ValueError("LZW output length mismatch")
    return np.frombuffer(bytes(out), dtype=np.uint8)


def _gif_subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _encode_gif_bytes(doc_id: int) -> bytes:
    w, h = _gif_dims(doc_id)
    parts = [b"GIF89a"]
    # logical screen descriptor: GCT present, 8-bit color res, 256 entries
    parts.append(
        w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\xf7\x00\x00"
    )
    parts.append(_gif_palette(doc_id).tobytes())
    # graphic-control extension — a real extension block the parser must
    # walk (and skip) before the image descriptor
    parts.append(b"\x21\xf9\x04\x00\x00\x00\x00\x00")
    parts.append(
        b"\x2c\x00\x00\x00\x00"
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + b"\x00"  # no local table, not interlaced
    )
    parts.append(b"\x08")  # LZW min code size
    parts.append(_gif_subblocks(_lzw_encode(_gif_indices(doc_id))))
    parts.append(b"\x3b")
    return b"".join(parts)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """Stdlib-only GIF87a/89a decode: logical-screen + color-table
    parse, extension-block walk, image descriptor (incl. local palettes
    and interlace), sub-block reassembly, and the full variable-width
    LZW inflate.  Returns (width, height, flat uint8 RGB) of the first
    image, palette-mapped."""
    b = bytes(payload)
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    try:
        return _decode_gif_body(b)
    except IndexError as exc:  # ran off the end of a truncated stream
        raise ValueError("truncated GIF") from exc


def _decode_gif_body(b: bytes) -> tuple[int, int, "np.ndarray"]:
    sw = int.from_bytes(b[6:8], "little")
    sh = int.from_bytes(b[8:10], "little")
    packed = b[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(b[pos : pos + 3 * n], dtype=np.uint8).reshape(
            n, 3
        )
        pos += 3 * n
    while pos < len(b):
        marker = b[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            break
        if marker == 0x21:  # extension: label + sub-blocks, skip
            pos += 1
            while b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if marker != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{marker:02x}")
        w = int.from_bytes(b[pos + 4 : pos + 6], "little")
        h = int.from_bytes(b[pos + 6 : pos + 8], "little")
        ipacked = b[pos + 8]
        pos += 9
        pal = gct
        if ipacked & 0x80:  # local color table
            n = 2 << (ipacked & 0x07)
            pal = np.frombuffer(
                b[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("no color table")
        mcs = b[pos]
        pos += 1
        if not 2 <= mcs <= 8:  # spec range; also caps the base table
            raise ValueError("bad LZW min code size")
        blocks = bytearray()
        while b[pos] != 0:
            ln = b[pos]
            blocks += b[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(bytes(blocks), mcs, w * h)
        if idx.max(initial=0) >= len(pal):
            raise ValueError("palette index out of range")
        if ipacked & 0x40:  # interlaced: rows arrive in 4-pass order
            rows = np.empty(h, dtype=np.int64)
            src = 0
            for start, step in _GIF_INTERLACE_PASSES:
                for y in range(start, h, step):
                    rows[y] = src  # display row y is stream row src
                    src += 1
            idx = idx.reshape(h, w)[rows].reshape(-1)
        return w, h, pal[idx].reshape(-1)
    raise ValueError("GIF contains no image data")


# --- the codec pipeline ------------------------------------------------------
#
# Every real codec runs the same Spark-side stack: the repartitioned
# doc_id spine (_codec_ids) → one mapInPandas that encodes each id into
# its payload (_codec_media) → one mapInPandas that decodes each payload
# into its family's feature rows (_feature_rows) → the family's one-row
# exact checksum.  A codec is one row of CODECS; its family fixes the
# feature generator, the row schema and the checksum.


def _codec_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id spine for the real-codec media, repartitioned to the
    session parallelism BEFORE the encode/decode mapInPandas stages.

    Why: the fixture ``documents`` table is one parquet file, so the
    scan yields 1–2 input partitions and every Python codec stage
    downstream ran near-serial — at sf1 the PNG encode+decode alone
    cost ~9 s of single-threaded Python. The shuffle
    moves ONLY the 8-byte doc_id column (the payloads are synthesized
    after it), so spreading the expensive codec work across all cores
    costs a trivially small exchange. The cheap byte-feature STUB paths
    deliberately keep the scan partitioning (measured: the shuffle costs
    more than it buys there — see _image_feature_rows). At 100 TB the
    same principle holds: repartition the id/path spine, never the
    decoded bytes."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    return docs.repartition(spark.sparkContext.defaultParallelism)


def _encoded(bytes_of):
    """mapInPandas body around ``bytes_of(doc_id) -> bytes``: (doc_id)
    batches in, (doc_id, payload) batches out."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids = [int(d) for d in batch["doc_id"]]
            yield pd.DataFrame(
                {"doc_id": ids, "payload": [bytes_of(d) for d in ids]}
            )

    return gen


def _codec_media(spark: SparkSession, sf_dir: str, bytes_of) -> DataFrame:
    """(doc_id, payload binary): one encoded file per document id.  In a
    production ingest this relation is ``spark.read.format('binaryFile')``
    over a media bucket; here the payloads are synthesized (same binary
    schema) so every decode below is oracle-checkable."""
    return _codec_ids(spark, sf_dir).mapInPandas(
        _encoded(bytes_of), schema="doc_id long, payload binary"
    )


def _audio_checksum(wins: DataFrame) -> DataFrame:
    """One-row exact checksum over every decoded RMS window: total_sq_sum
    verifies every decoded sample exactly, sum_rate_hz / sum_n_samples
    bind the parsed header fields, the id-weighted modular term binds
    each window's content to its document, and rms_overall is one double
    division + sqrt of exact longs."""
    return wins.agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("window_idx").alias("sum_window_idx"),
        F.sum("sq_sum").alias("total_sq_sum"),
        F.sum("rate_hz").alias("sum_rate_hz"),
        F.sum("n_samples").alias("sum_n_samples"),
        # both factors reduced mod P before multiplying: product < P² < 2^63
        F.sum(
            F.expr(f"((doc_id % {P}) * (sq_sum % {P})) % {P}")
        ).alias("id_weighted_sq_sum"),
        F.sqrt(
            F.sum("sq_sum").cast("double")
            / (F.count(F.lit(1)) * _WAV_RMS_WINDOW).cast("double")
        ).alias("rms_overall"),
    )


def _image_checksum(f: DataFrame) -> DataFrame:
    """One-row exact checksum over every decoded image: header dims,
    exact per-channel sums, and an id+position-weighted modular binding
    over every pixel byte."""
    return f.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("width").alias("sum_width"),
        F.sum("height").alias("sum_height"),
        F.sum("n_pixels").alias("sum_pixels"),
        F.sum("sum_r").alias("total_r"),
        F.sum("sum_g").alias("total_g"),
        F.sum("sum_b").alias("total_b"),
        F.sum(
            F.expr(f"((doc_id % {P}) * (idx_weighted % {P})) % {P}")
        ).alias("id_weighted_binding"),
    )


def _video_checksum(f: DataFrame) -> DataFrame:
    """One-row exact checksum over every sampled decoded frame: header
    dims, exact frame sums, and an id+frame+position-weighted modular
    binding over every sampled byte."""
    return f.agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("width").alias("sum_width"),
        F.sum("height").alias("sum_height"),
        F.sum("frame_idx").alias("sum_frame_idx"),
        F.sum("frame_sum").alias("total_frame_sum"),
        F.sum(
            F.expr(
                f"(((doc_id * 131 + frame_idx) % {P})"
                f" * (idx_weighted % {P})) % {P}"
            )
        ).alias("id_weighted_binding"),
    )


# family: (feature generator around a decode, row schema, checksum)
_FAMILIES = {
    "audio": (_wav_features_with, _WAV_FEAT_SCHEMA, _audio_checksum),
    "image": (_ppm_features_with, _PPM_FEAT_SCHEMA, _image_checksum),
    "video": (_y4m_features_with, _Y4M_FEAT_SCHEMA, _video_checksum),
}

# family: the DuckDB restatement of its checksum over the full-row
# oracle ``f`` (audio's rate and length columns vary by codec, so each
# audio oracle states them through _audio_checksum_duck)
_CHECKSUM_DUCK = {
    "image": (
        " SELECT COUNT(*) AS n_images,"
        " CAST(SUM(width) AS BIGINT) AS sum_width,"
        " CAST(SUM(height) AS BIGINT) AS sum_height,"
        " CAST(SUM(n_pixels) AS BIGINT) AS sum_pixels,"
        " CAST(SUM(sum_r) AS BIGINT) AS total_r,"
        " CAST(SUM(sum_g) AS BIGINT) AS total_g,"
        " CAST(SUM(sum_b) AS BIGINT) AS total_b,"
        f" CAST(SUM(((doc_id % {P}) * (idx_weighted % {P})) % {P})"
        " AS BIGINT) AS id_weighted_binding"
        " FROM f"
    ),
    "video": (
        " SELECT COUNT(*) AS n_frames,"
        " COUNT(DISTINCT doc_id) AS n_docs,"
        " CAST(SUM(width) AS BIGINT) AS sum_width,"
        " CAST(SUM(height) AS BIGINT) AS sum_height,"
        " CAST(SUM(frame_idx) AS BIGINT) AS sum_frame_idx,"
        " CAST(SUM(frame_sum) AS BIGINT) AS total_frame_sum,"
        f" CAST(SUM((((doc_id * 131 + frame_idx) % {P})"
        f" * (idx_weighted % {P})) % {P}) AS BIGINT)"
        " AS id_weighted_binding"
        " FROM f"
    ),
}


def _audio_checksum_duck(src: str, rate_hz: str, n_samples: str) -> str:
    """The audio checksum over ``src``'s (doc_id, window_idx, sq_sum)
    windows; ``rate_hz`` and ``n_samples`` are the header fields' SQL."""
    return (
        " SELECT COUNT(*) AS n_windows,"
        " COUNT(DISTINCT doc_id) AS n_docs,"
        " CAST(SUM(window_idx) AS BIGINT) AS sum_window_idx,"
        " CAST(SUM(sq_sum) AS BIGINT) AS total_sq_sum,"
        f" CAST(SUM({rate_hz}) AS BIGINT) AS sum_rate_hz,"
        f" CAST(SUM({n_samples}) AS BIGINT) AS sum_n_samples,"
        f" CAST(SUM(((doc_id % {P}) * (sq_sum % {P})) % {P}) AS BIGINT)"
        " AS id_weighted_sq_sum,"
        " sqrt(CAST(SUM(sq_sum) AS DOUBLE) /"
        f" CAST(COUNT(*) * {_WAV_RMS_WINDOW} AS DOUBLE)) AS rms_overall"
        f" FROM {src}"
    )


# codec: (bytes_of(doc_id), serving decode, family).  The compressed
# video containers serve their sparse decoders: only sampled frames,
# and for the inter-coded streams their GOP prefixes, ever decode.
CODECS = {
    "wav": (_wav_bytes, decode_wav, "audio"),
    "mulaw": (_encode_wav_mulaw_bytes, decode_wav_mulaw, "audio"),
    "adpcm": (_encode_wav_adpcm_bytes, decode_wav_adpcm, "audio"),
    "ilt": (_encode_wav_ilt_bytes, decode_wav_ilt, "audio"),
    "ppm": (_ppm_bytes, decode_ppm, "image"),
    "png": (_encode_png_bytes, decode_png, "image"),
    "jpeg": (_encode_jpeg_bytes, decode_jpeg, "image"),
    "gif": (_encode_gif_bytes, decode_gif, "image"),
    "y4m": (_y4m_bytes, decode_y4m, "video"),
    "mjpeg": (
        _encode_avi_mjpeg_bytes,
        partial(decode_avi_mjpeg_sampled, sample_every=SAMPLE_EVERY),
        "video",
    ),
    "bdv": (
        _encode_avi_bdv_bytes,
        partial(decode_avi_bdv_sampled, sample_every=SAMPLE_EVERY),
        "video",
    ),
    "mb4": (
        _encode_mb4_bytes,
        partial(decode_mb4_bdv_sampled, sample_every=SAMPLE_EVERY),
        "video",
    ),
    "fmp4": (
        _encode_fmp4_bytes,
        partial(decode_fmp4_bdv_sampled, sample_every=SAMPLE_EVERY),
        "video",
    ),
    "sts": (
        _encode_sts_bytes,
        partial(decode_sts_bdv_sampled, sample_every=SAMPLE_EVERY),
        "video",
    ),
}


def _feature_rows(
    spark: SparkSession, sf_dir: str, codec: str, decode=None
) -> DataFrame:
    """``codec``'s feature rows: encode every doc id, decode each payload
    with ``decode`` (default: the codec's serving decoder) and emit the
    family's rows.  ``decode`` is the seam: any callable with the
    family's contract (audio ``bytes -> (rate, samples)``, image
    ``bytes -> (w, h, flat RGB)``, video ``bytes -> (w, h,
    [(frame_idx, flat RGB)])``) slots in and nothing else changes."""
    bytes_of, serve, family = CODECS[codec]
    features_with, schema, _ = _FAMILIES[family]
    return _codec_media(spark, sf_dir, bytes_of).mapInPandas(
        features_with(decode or serve), schema=schema
    )


def _checksum(codec: str):
    """The registry query of ``codec``: its family's checksum over its
    feature rows."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        checksum = _FAMILIES[CODECS[codec][2]][2]
        return checksum(_feature_rows(spark, sf_dir, codec))

    run.__name__ = f"{codec}_checksum"
    return run


def _checksum_oracle(codec: str) -> str:
    """The oracle of ``_checksum(codec)``: its family's checksum over
    the codec's full-row oracle."""
    return (
        f"WITH f AS ({FULLROW_ORACLES[codec + '_feature_rows']})"
        + _CHECKSUM_DUCK[CODECS[codec][2]]
    )


QUERIES = {
    "multimodal_catalog": multimodal_catalog,
    "image_thumbnails_ppm": image_thumbnails_ppm,
    "image_features_stub": image_features_stub,
    "image_features_ppm": _checksum("ppm"),
    "image_features_png": _checksum("png"),
    "image_features_gif": _checksum("gif"),
    "image_features_jpeg": _checksum("jpeg"),
    "video_frame_sample_stub": video_frame_sample_stub,
    "video_frame_sample_y4m": _checksum("y4m"),
    "video_features_mjpeg": _checksum("mjpeg"),
    "video_features_bdv": _checksum("bdv"),
    "video_features_mb4": _checksum("mb4"),
    "video_features_fmp4": _checksum("fmp4"),
    "video_features_sts": _checksum("sts"),
    "video_frame_dedup_y4m": video_frame_dedup_y4m,
    "audio_window_rms": _checksum("wav"),
    "audio_features_mulaw": _checksum("mulaw"),
    "audio_features_adpcm": _checksum("adpcm"),
    "audio_features_ilt": _checksum("ilt"),
}


def _adpcm_oracle() -> str:
    """The IMA state machine replayed relationally: a RECURSIVE CTE
    advances every document's (predictor, index) chain one sample per
    level — the exact integer arithmetic of :func:`adpcm_expand`
    (step-table lookup, nibble-gated diff accumulation, both clamps) on
    the closed-form nibble sequence, so one wrong step anywhere
    diverges every subsequent sample of that document."""
    step_lit = "[" + ", ".join(str(v) for v in _ADPCM_STEP_TABLE) + "]"
    idx_lit = "[" + ", ".join(str(v) for v in _ADPCM_INDEX_TABLE) + "]"
    nib = (
        f"((doc_id * {_ADPCM_NIB_A} + i * {_ADPCM_NIB_B}"
        f" + {_ADPCM_NIB_C}) % 16)"
    )
    step = f"({step_lit})[idx + 1]"
    diff = (
        f"(({step} >> 3)"
        f" + CASE WHEN ({nib} & 4) != 0 THEN {step} ELSE 0 END"
        f" + CASE WHEN ({nib} & 2) != 0 THEN ({step} >> 1) ELSE 0 END"
        f" + CASE WHEN ({nib} & 1) != 0 THEN ({step} >> 2) ELSE 0 END)"
    )
    new_pred = (
        f"CASE WHEN ({nib} & 8) != 0"
        f" THEN GREATEST(pred - {diff}, -32768)"
        f" ELSE LEAST(pred + {diff}, 32767) END"
    )
    new_idx = (
        f"LEAST(GREATEST(idx + ({idx_lit})[({nib} & 7) + 1], 0), 88)"
    )
    return (
        "WITH RECURSIVE docs0 AS (SELECT doc_id,"
        " CAST(256 + (doc_id % 3) * 64 AS BIGINT) AS n,"
        f" CAST((doc_id * {_ADPCM_PRED_MULT}) % 65536 - 32768 AS BIGINT)"
        " AS pred0,"
        " CAST(doc_id % 89 AS BIGINT) AS idx0 FROM documents),"
        " chain(doc_id, n, i, pred, idx) AS ("
        " SELECT doc_id, n, CAST(0 AS BIGINT), pred0, idx0 FROM docs0"
        " UNION ALL"
        f" SELECT doc_id, n, i + 1, {new_pred}, {new_idx}"
        " FROM chain WHERE i < n),"
        " w AS (SELECT doc_id, (i - 1) // 64 AS window_idx,"
        " SUM(pred * pred) AS sq_sum"
        " FROM chain WHERE i >= 1 GROUP BY doc_id, window_idx)"
    ) + _audio_checksum_duck(
        "w", "8000 + (doc_id % 2) * 3025", "256 + (doc_id % 3) * 64"
    )

# ASCII corpus ⇒ octet/byte ops == length/ascii char ops in the oracles.
_MIME_CASE = (
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'"
    " WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END"
)

_POLY = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(range(1, {n} + 1),"
    " i -> CAST(ascii(substr({s}, {off} + i, 1)) AS BIGINT))),"
    " (acc, c) -> (acc * 31 + c) % {p})"
)

# The codec oracles below are composed from these builders.  Each
# restates its decoded bytes from the fixture's closed-form generators
# and doc_id geometry, given as literal SQL, and never sees the binary.


def _dims_duck(w: str, h: str) -> str:
    """Opens an image oracle: the per-doc header dims."""
    return f"WITH dims AS (SELECT doc_id, {w} AS w, {h} AS h FROM documents),"


_PPM_DIMS_DUCK = _dims_duck(
    "8 + CAST(doc_id % 5 AS INT) * 4", "6 + CAST(doc_id % 7 AS INT) * 2"
)


def _image_rows_duck(ctes: str, src: str) -> str:
    """One row per image over ``src``, the per-byte ``(doc_id, w, h,
    idx, val)`` relation that ``ctes`` builds: the dims, the exact
    channel sums and the position-weighted byte binding."""
    return (
        ctes
        + " SELECT doc_id, CAST(ANY_VALUE(w) AS INT) AS width,"
        " CAST(ANY_VALUE(h) AS INT) AS height,"
        " CAST(ANY_VALUE(w) * ANY_VALUE(h) AS INT) AS n_pixels,"
        + "".join(
            f" CAST(SUM(CASE WHEN idx % 3 = {c} THEN val ELSE 0 END)"
            f" AS BIGINT) AS sum_{ch},"
            for c, ch in enumerate("rgb")
        )
        + f" CAST(SUM(((idx % {P}) * val) % {P}) AS BIGINT) AS idx_weighted"
        f" FROM {src} GROUP BY doc_id"
    )


def _raster_rows_duck(dims: str, pix_a: int, pix_b: int) -> str:
    """Rows of a raw RGB raster whose byte idx is (doc_id·pix_a +
    idx·pix_b) mod 256 (the PPM and PNG fixtures)."""
    return _image_rows_duck(
        dims
        + " px AS (SELECT doc_id, w, h,"
        " unnest(range(0, w * h * 3)) AS idx FROM dims),"
        " v AS (SELECT doc_id, w, h, idx,"
        f" (doc_id * {pix_a} + idx * {pix_b}) % 256 AS val"
        " FROM px)",
        "v",
    )


def _jfif_ctes(keys: str) -> str:
    """``co``'s quantized coefficients per 8×8 block → exact Y/Cb/Cr
    planes (the (4,4) AC basis contributes exactly s(x)·s(y)·coef; flat
    Q=8 cancels the /8 IDCT scale) → JFIF YCbCr→RGB with floor(x+0.5) →
    the per-byte ``chan`` relation, carrying ``keys``."""
    return (
        " pix AS (SELECT *, unnest(range(0, 64)) AS i FROM co),"
        f" lum AS (SELECT {keys},"
        " ((b // bw) * 8 + (i // 8)) AS gy,"
        " ((b % bw) * 8 + (i % 8)) AS gx,"
        " 128 + yq0"
        " + (CASE WHEN (i // 8) % 4 IN (0, 3) THEN 1 ELSE -1 END)"
        " * (CASE WHEN (i % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END) * yq1"
        " AS yv, cbq, crq FROM pix),"
        f" rgb AS (SELECT {keys}, gy, gx,"
        " CAST(floor(yv + 1.402 * crq + 0.5) AS BIGINT) AS r,"
        " CAST(floor(yv - 0.344136 * cbq - 0.714136 * crq + 0.5)"
        " AS BIGINT) AS g,"
        " CAST(floor(yv + 1.772 * cbq + 0.5) AS BIGINT) AS bb FROM lum),"
        f" chan AS (SELECT {keys},"
        " (gy * w + gx) * 3 + c AS idx,"
        " CASE c WHEN 0 THEN r WHEN 1 THEN g ELSE bb END AS val"
        " FROM rgb CROSS JOIN (SELECT unnest(range(0, 3)) AS c) cs)"
    )


def _sampled_ctes(w: str, h: str, nf: str) -> str:
    """Opens a video oracle: the per-doc geometry and its sampled
    frames ``(doc_id, w, h, f)``."""
    return (
        f"WITH geom AS (SELECT doc_id, {w} AS w, {h} AS h,"
        f" {nf} AS nf FROM documents),"
        " fr AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f"
        " FROM geom),"
        f" sampled AS (SELECT * FROM fr WHERE f % {SAMPLE_EVERY} = 0),"
    )


def _frame_rows_duck(ctes: str, src: str, idx: str = "idx") -> str:
    """One row per sampled frame over ``src``, the per-byte ``(doc_id,
    w, h, f, {idx}, val)`` relation that ``ctes`` builds."""
    return (
        ctes
        + " SELECT doc_id, CAST(w AS INT) AS width,"
        " CAST(h AS INT) AS height, CAST(f AS INT) AS frame_idx,"
        " CAST(SUM(val) AS BIGINT) AS frame_sum,"
        f" CAST(SUM((({idx} % {P}) * val) % {P}) AS BIGINT) AS idx_weighted"
        f" FROM {src} GROUP BY doc_id, w, h, f"
    )


def _bdv_rows_duck(w: str, h: str, nf: str) -> str:
    """The BDV reference decode over a fixture's geometry: every sampled
    pixel is the GOP base pattern at the motion-shifted position (phase
    ≥ 1) plus the constant residual (phase 2), mod 256."""
    return _frame_rows_duck(
        _sampled_ctes(w, h, nf)
        + f" gp AS (SELECT doc_id, w, h, f, f // {BDV_GOP} AS g,"
        f" f % {BDV_GOP} AS ph FROM sampled),"
        " mv AS (SELECT *,"
        " CASE WHEN ph >= 1 THEN (doc_id + g) % 3 - 1 ELSE 0 END AS dx,"
        " CASE WHEN ph >= 1 THEN (doc_id * 2 + g) % 3 - 1 ELSE 0 END"
        " AS dy,"
        " CASE WHEN ph = 2 THEN (doc_id * 5 + g * 9 + 7) % 256"
        " ELSE 0 END AS r FROM gp),"
        " pix AS (SELECT doc_id, w, h, f, g, dx, dy, r,"
        " unnest(range(0, w * h * 3)) AS i FROM mv),"
        " dec AS (SELECT doc_id, w, h, f, i,"
        " (doc_id * 17 + g * 71"
        " + (((((i // (3 * w)) - dy) % h + h) % h) * w"
        " + ((((i // 3) % w - dx) % w + w) % w)) * 3 * 13"
        " + (i % 3) * 13 + r) % 256 AS val FROM pix)",
        "dec",
        "i",
    )


def _audio_windows_duck(n_mod: int, squares: str) -> str:
    """Opens an audio oracle: ``f`` holds each of a doc's ``4 + doc_id %
    n_mod`` windows with ``sq_sum``, the sum of ``squares``, the list of
    the window's squared samples (``i`` indexes the window)."""
    return (
        "WITH wins AS (SELECT doc_id,"
        f" unnest(range(0, 4 + CAST(doc_id % {n_mod} AS INT))) AS window_idx"
        " FROM documents),"
        " f AS (SELECT doc_id, window_idx,"
        f" list_reduce(list_prepend(CAST(0 AS BIGINT), {squares}),"
        " (a, c) -> a + c) AS sq_sum FROM wins)"
    )


_WAV_SAMPLE_DUCK = (
    f"CAST(((doc_id * {_WAV_SAMPLE_A} + (window_idx *"
    f" {_WAV_RMS_WINDOW} + i) * {_WAV_SAMPLE_B}) % {_WAV_SAMPLE_MOD})"
    f" - {_WAV_SAMPLE_MOD // 2} AS BIGINT)"
)
_MULAW_MAG_DUCK = (
    f"((((u & 15) * 8) + {_MULAW_BIAS}) *"
    f" (CAST(1 AS BIGINT) << ((u >> 4) & 7)) - {_MULAW_BIAS})"
)

# Full-row forms — asserted per-row in
# tests/test_fullrow_parity.py; the registry oracles below are the
# driver-budget-friendly aggregate checksums over the same relations.
FULLROW_ORACLES = {
    "catalog_rows": (
        f"SELECT doc_id, {_MIME_CASE} AS mime,"
        " length(text) AS n_bytes,"
        " CAST(doc_id % 16 * 64 + 256 AS INT) AS width,"
        " CAST(doc_id % 9 * 64 + 192 AS INT) AS height,"
        " CAST(floor((doc_id % 16 * 64 + 256) * (128.0 /"
        " greatest(doc_id % 16 * 64 + 256, doc_id % 9 * 64 + 192))) AS INT)"
        " AS thumb_w,"
        " CAST(floor((doc_id % 9 * 64 + 192) * (128.0 /"
        " greatest(doc_id % 16 * 64 + 256, doc_id % 9 * 64 + 192))) AS INT)"
        " AS thumb_h"
        " FROM documents"
    ),
    "image_feature_rows": (
        "WITH codes AS (SELECT doc_id, length(text) AS n,"
        " list_transform(range(1, length(text) + 1),"
        " i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS cs"
        " FROM documents)"
        " SELECT doc_id, CAST(n AS INT) AS n_bytes,"
        " list_reduce(list_prepend(CAST(0 AS BIGINT), cs),"
        " (a, c) -> a + c) AS byte_sum,"
        " CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), cs),"
        " (a, c) -> a + c) AS DOUBLE) / n AS byte_mean,"
        " list_reduce(list_prepend(CAST(0 AS BIGINT), cs),"
        f" (acc, c) -> (acc * 31 + c) % {P}) AS poly_hash"
        " FROM codes"
    ),
    "frame_sample_rows": (
        "WITH frames AS (SELECT doc_id, text,"
        f" unnest(range(0, length(text) // {FRAME_BYTES})) AS frame_idx"
        " FROM documents)"
        " SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx, "
        + _POLY.format(
            n=FRAME_BYTES, s="text", off=f"frame_idx * {FRAME_BYTES}", p=P
        )
        + " AS frame_hash FROM frames"
        f" WHERE frame_idx % {SAMPLE_EVERY} = 0"
    ),
    # Like the WAV oracle below, the PPM oracle recomputes every decoded
    # byte from the closed-form generator v[idx] = (doc_id·7919 + idx·97)
    # mod 256 and the header dims from their doc_id formulas — it never
    # sees the binary.
    "ppm_feature_rows": _raster_rows_duck(
        _PPM_DIMS_DUCK, _PPM_PIX_A, _PPM_PIX_B
    ),
    # PNG oracle: same shape as the PPM one — every decoded raster byte
    # recomputed from v[idx] = (doc_id·7919 + idx·101) mod 256 and the
    # doc_id dim formulas; the DEFLATE/filter/CRC machinery never leaks
    # into the oracle, which is exactly what makes the checksum a proof
    # that the decode inverted it.
    "png_feature_rows": _raster_rows_duck(
        _dims_duck(
            "8 + CAST(doc_id % 6 AS INT) * 4",
            "5 + CAST(doc_id % 5 AS INT) * 3",
        ),
        _PNG_PIX_A,
        _PNG_PIX_B,
    ),
    # frame-fingerprint oracle: every byte of every frame of every video
    # re-derived from the (doc_id % 4, f % 3) class closed form, folded
    # to the same exact per-frame triple the decoder emits.
    "frame_fp_rows": (
        "WITH docs AS (SELECT doc_id,"
        f" doc_id % {_Y4MD_CLS} AS k,"
        " 3 + doc_id % 5 AS nf FROM documents),"
        " geom AS (SELECT doc_id, k, nf,"
        " 6 + k * 2 AS w, 4 + k * 2 AS h FROM docs),"
        " fr AS (SELECT doc_id, k, w, h,"
        " unnest(range(0, nf)) AS f FROM geom),"
        f" b AS (SELECT doc_id, k, w, h, f, f % {_Y4MD_FRM} AS fc,"
        " unnest(range(0, w * h * 3)) AS idx FROM fr),"
        f" v AS (SELECT doc_id, f, w * h * 3 AS nb, idx,"
        f" (k * {_Y4M_PIX_A} + fc * {_Y4M_PIX_F}"
        f" + idx * {_Y4M_PIX_B}) % 256 AS val FROM b)"
        " SELECT doc_id, CAST(f AS INT) AS frame_idx,"
        " CAST(ANY_VALUE(nb) AS INT) AS n_bytes,"
        " CAST(SUM(val) AS BIGINT) AS frame_sum,"
        f" CAST(SUM(((idx % {P}) * val) % {P}) AS BIGINT) AS idx_weighted"
        " FROM v GROUP BY doc_id, f"
    ),
    # GIF oracle: index stream and palette both re-derived from their
    # closed forms and composed per channel — the LZW/sub-block/screen-
    # descriptor machinery never leaks into the oracle, so the checksum
    # match proves the dictionary decode inverted the encoder.
    "gif_feature_rows": _image_rows_duck(
        _dims_duck(
            "10 + CAST(doc_id % 6 AS INT) * 4",
            "7 + CAST(doc_id % 5 AS INT) * 3",
        )
        + " px AS (SELECT doc_id, w, h,"
        " unnest(range(0, w * h)) AS p FROM dims),"
        " ch AS (SELECT doc_id, w, h, p,"
        " unnest(range(0, 3)) AS c FROM px),"
        f" v AS (SELECT doc_id, w, h, p * 3 + c AS idx,"
        f" (((doc_id * {_GIF_PIX_A} + p * {_GIF_PIX_B}) % 256)"
        f" * {_GIF_PAL_I} + c * {_GIF_PAL_C}"
        f" + doc_id * {_GIF_PAL_D}) % 256 AS val FROM ch)",
        "v",
    ),
    # JPEG oracle: the whole lossy pipeline restated in SQL — closed-form
    # quantized coefficients per block, then _jfif_ctes. The Huffman/
    # marker/zigzag/IDCT machinery never leaks into the oracle, which is
    # exactly what makes the per-pixel checksum a proof the generic
    # decoder inverted the entropy coding.
    "jpeg_feature_rows": _image_rows_duck(
        _dims_duck(
            "16 + CAST(doc_id % 3 AS INT) * 8",
            "8 + CAST(doc_id % 2 AS INT) * 8",
        )
        + " blk AS (SELECT doc_id, w, h, w // 8 AS bw,"
        " unnest(range(0, (w // 8) * (h // 8))) AS b FROM dims),"
        " co AS (SELECT doc_id, w, h, bw, b,"
        " (doc_id * 7919 + b * 97) % 161 - 80 AS yq0,"
        " (doc_id * 131 + b * 61) % 25 - 12 AS yq1,"
        " (doc_id * 53 + b * 29) % 25 - 12 AS cbq,"
        " (doc_id * 89 + b * 41) % 25 - 12 AS crq FROM blk),"
        + _jfif_ctes("doc_id, w, h"),
        "chan",
    ),
    # Y4M oracle: sampled frames and every decoded byte recomputed from
    # v = (doc_id·7919 + f·131071 + idx·97) mod 256 and the doc_id
    # geometry formulas — never sees the container bytes.
    "y4m_feature_rows": _frame_rows_duck(
        _sampled_ctes(
            "4 + CAST(doc_id % 4 AS INT) * 2",
            "4 + CAST(doc_id % 3 AS INT) * 2",
            "8 + CAST(doc_id % 5 AS INT) * 4",
        )
        + " px AS (SELECT doc_id, w, h, f,"
        " unnest(range(0, w * h * 3)) AS idx FROM sampled),"
        f" v AS (SELECT doc_id, w, h, f, idx,"
        f" (doc_id * {_Y4M_PIX_A} + f * {_Y4M_PIX_F}"
        f" + idx * {_Y4M_PIX_B}) % 256 AS val FROM px)",
        "v",
    ),
    # The BDV containers (AVI, MB4 box tree, fragmented FV4, packetized
    # STS) carry the same bitstream, each over its own fixture geometry;
    # the oracle re-derives every motion-compensated sampled pixel from
    # the closed-form generators without ever seeing a container byte.
    "bdv_feature_rows": _bdv_rows_duck(
        "8 + CAST(doc_id % 3 AS INT) * 4",
        "4 + CAST(doc_id % 2 AS INT) * 4",
        "5 + CAST(doc_id % 5 AS INT)",
    ),
    "mb4_feature_rows": _bdv_rows_duck(
        "8 + CAST(doc_id % 4 AS INT) * 4",
        "4 + CAST(doc_id % 3 AS INT) * 4",
        "6 + CAST(doc_id % 7 AS INT)",
    ),
    "fmp4_feature_rows": _bdv_rows_duck(
        "8 + CAST(doc_id % 3 AS INT) * 4",
        "4 + CAST(doc_id % 4 AS INT) * 4",
        "7 + CAST(doc_id % 6 AS INT)",
    ),
    "sts_feature_rows": _bdv_rows_duck(
        "12 + CAST(doc_id % 2 AS INT) * 4",
        "4 + CAST(doc_id % 3 AS INT) * 4",
        "6 + CAST(doc_id % 5 AS INT)",
    ),
    # MJPEG oracle: the jpeg_feature_rows lossy pipeline restated per
    # SAMPLED frame, with frame-varying quantized coefficients.  The RIFF/
    # avih/idx1 container machinery and the per-frame Huffman stack
    # never leak into the oracle; matching it proves both were inverted.
    "mjpeg_feature_rows": _frame_rows_duck(
        _sampled_ctes(
            "16 + CAST(doc_id % 3 AS INT) * 8",
            "8 + CAST(doc_id % 2 AS INT) * 8",
            "4 + CAST(doc_id % 4 AS INT)",
        )
        + " blk AS (SELECT doc_id, w, h, f, w // 8 AS bw,"
        " unnest(range(0, (w // 8) * (h // 8))) AS b FROM sampled),"
        " co AS (SELECT doc_id, w, h, f, bw, b,"
        f" (doc_id * 7919 + f * {_MJPEG_F_Y0} + b * 97) % 161 - 80"
        " AS yq0,"
        f" (doc_id * 131 + f * {_MJPEG_F_Y1} + b * 61) % 25 - 12 AS yq1,"
        f" (doc_id * 53 + f * {_MJPEG_F_CB} + b * 29) % 25 - 12 AS cbq,"
        f" (doc_id * 89 + f * {_MJPEG_F_CR} + b * 41) % 25 - 12 AS crq"
        " FROM blk),"
        + _jfif_ctes("doc_id, w, h, f"),
        "chan",
    ),
    # The WAV oracle never sees the binary: it recomputes every decoded
    # sample from the closed-form generator s[i] = ((doc_id·7919 +
    # i·104729) mod 65536) − 32768 that the encoder wrote into the PCM
    # data chunk, and the header fields from their doc_id formulas.
    "wav_feature_rows": _audio_windows_duck(
        7,
        f"list_transform(range(0, {_WAV_RMS_WINDOW}),"
        f" i -> {_WAV_SAMPLE_DUCK} * ({_WAV_SAMPLE_DUCK}))",
    )
    + " SELECT doc_id,"
    " CAST(8000 + (doc_id % 3) * 4000 AS INT) AS rate_hz,"
    " CAST(256 + (doc_id % 7) * 64 AS INT) AS n_samples,"
    " CAST(window_idx AS INT) AS window_idx, sq_sum,"
    f" sqrt(CAST(sq_sum AS DOUBLE) / {_WAV_RMS_WINDOW}) AS rms"
    " FROM f",
}

ORACLES = {
    "multimodal_catalog": (
        f"WITH c AS ({FULLROW_ORACLES['catalog_rows']})"
        " SELECT mime, COUNT(*) AS n_items,"
        " CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes,"
        " CAST(SUM(width) AS BIGINT) AS sum_width,"
        " CAST(SUM(height) AS BIGINT) AS sum_height,"
        " CAST(SUM(thumb_w) AS BIGINT) AS sum_thumb_w,"
        " CAST(SUM(thumb_h) AS BIGINT) AS sum_thumb_h"
        " FROM c GROUP BY mime"
    ),
    "image_features_stub": (
        f"WITH f AS ({FULLROW_ORACLES['image_feature_rows']})"
        " SELECT COUNT(*) AS n_docs,"
        " CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes,"
        " CAST(SUM(byte_sum) AS BIGINT) AS sum_byte_sum,"
        f" CAST(SUM(((doc_id % {P}) * poly_hash) % {P}) AS BIGINT)"
        " AS id_weighted_hash_sum,"
        " CAST(SUM(byte_sum) AS DOUBLE) / CAST(SUM(n_bytes) AS BIGINT)"
        " AS mean_byte"
        " FROM f"
    ),
    "video_frame_sample_stub": (
        f"WITH f AS ({FULLROW_ORACLES['frame_sample_rows']})"
        " SELECT COUNT(*) AS n_frames,"
        " COUNT(DISTINCT doc_id) AS n_docs,"
        " CAST(SUM(frame_idx) AS BIGINT) AS sum_frame_idx,"
        f" CAST(SUM((((doc_id * 131 + frame_idx) % {P}) * frame_hash)"
        f" % {P}) AS BIGINT) AS id_weighted_hash_sum"
        " FROM f"
    ),
    "image_features_ppm": _checksum_oracle("ppm"),
    "image_features_png": _checksum_oracle("png"),
    # thumbnail oracle: every RESAMPLED byte restated — thumb index ti
    # decomposes to (ty, tx, c), the nearest-neighbor source index is
    # ((ty·h div TH)·w + (tx·w div TW))·3 + c, and the byte value comes
    # from the same closed-form generator; integer arithmetic throughout
    "image_thumbnails_ppm": (
        _PPM_DIMS_DUCK
        + " t AS (SELECT doc_id, w, h,"
        f" unnest(range(0, {_THUMB_H} * {_THUMB_W} * 3)) AS ti FROM dims),"
        f" v AS (SELECT doc_id, w, h, ti,"
        f" (doc_id * {_PPM_PIX_A} +"
        f" ((((ti // ({_THUMB_W} * 3)) * h // {_THUMB_H}) * w"
        f" + (((ti // 3) % {_THUMB_W}) * w // {_THUMB_W})) * 3 + ti % 3)"
        f" * {_PPM_PIX_B}) % 256 AS val FROM t),"
        " per_doc AS (SELECT doc_id, ANY_VALUE(w) AS w, ANY_VALUE(h) AS h,"
        " SUM(val) AS thumb_sum,"
        f" SUM(((ti % {P}) * val) % {P}) AS idx_weighted"
        " FROM v GROUP BY doc_id)"
        " SELECT COUNT(*) AS n_images,"
        " CAST(SUM(w) AS BIGINT) AS sum_src_w,"
        " CAST(SUM(h) AS BIGINT) AS sum_src_h,"
        " CAST(SUM(thumb_sum) AS BIGINT) AS total_thumb,"
        f" CAST(SUM(((doc_id % {P}) * (idx_weighted % {P})) % {P})"
        " AS BIGINT) AS id_weighted_binding"
        " FROM per_doc"
    ),
    "video_frame_dedup_y4m": (
        f"WITH f AS ({FULLROW_ORACLES['frame_fp_rows']}),"
        " g AS (SELECT n_bytes, frame_sum, idx_weighted,"
        " COUNT(*) AS sz, COUNT(DISTINCT doc_id) AS n_docs,"
        " MIN(doc_id * 8192 + frame_idx) AS rep"
        " FROM f GROUP BY 1, 2, 3)"
        " SELECT CAST(SUM(sz) AS BIGINT) AS n_frames,"
        " COUNT(*) AS n_distinct_frames,"
        " CAST(SUM(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT)"
        " AS n_dup_frames,"
        " CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_cross_video_groups,"
        f" CAST(SUM(((rep % {P}) * (sz % {P})) % {P}) AS BIGINT)"
        " AS group_binding"
        " FROM g"
    ),
    "image_features_gif": _checksum_oracle("gif"),
    "image_features_jpeg": _checksum_oracle("jpeg"),
    "video_frame_sample_y4m": _checksum_oracle("y4m"),
    "video_features_bdv": _checksum_oracle("bdv"),
    "video_features_mb4": _checksum_oracle("mb4"),
    "video_features_fmp4": _checksum_oracle("fmp4"),
    "video_features_sts": _checksum_oracle("sts"),
    "video_features_mjpeg": _checksum_oracle("mjpeg"),
    "audio_window_rms": (
        f"WITH w AS ({FULLROW_ORACLES['wav_feature_rows']})"
        + _audio_checksum_duck("w", "rate_hz", "n_samples")
    ),
    # G.711 μ-law expansion restated in integer SQL: u = 255 − code
    # (the one's complement), t = ((u&15)·8 + 132) << ((u>>4)&7), sample
    # = ±(t − 132) — the exact numpy arithmetic of mulaw_expand, on the
    # closed-form code sequence the encoder wrote.  The checksum squares
    # every sample, and (132−t)² = (t−132)², so the sign fold drops out
    # of the SQL; the SIGN of the expansion is bound by the
    # all-256-codes G.711 reference-table unit test
    # (tests/test_multimodal_seam.py), the magnitudes by this parity.
    "audio_features_mulaw": _audio_windows_duck(
        5,
        "list_transform("
        f" list_transform(range(0, {_WAV_RMS_WINDOW}),"
        f" i -> 255 - ((doc_id * {_MULAW_CODE_A} + (window_idx *"
        f" {_WAV_RMS_WINDOW} + i) * {_MULAW_CODE_B} + {_MULAW_CODE_C})"
        " % 256)),"
        f" u -> {_MULAW_MAG_DUCK} * {_MULAW_MAG_DUCK})",
    )
    + _audio_checksum_duck(
        "f", "8000 * (1 + doc_id % 2)", "256 + (doc_id % 5) * 64"
    ),
    "audio_features_adpcm": _adpcm_oracle(),
    "audio_features_ilt": _audio_windows_duck(
        3,
        "list_transform("
        f" list_transform(range(0, {_WAV_RMS_WINDOW}),"
        f" i -> (doc_id * {_ILT_SAMPLE_A} + (window_idx *"
        f" {_WAV_RMS_WINDOW} + i) * {_ILT_SAMPLE_B} + {_ILT_SAMPLE_C})"
        " % 65536 - 32768),"
        " v -> v * v)",
    )
    + _audio_checksum_duck(
        "f", "16000 + (doc_id % 2) * 6050", "256 + (doc_id % 3) * 64"
    ),
}
