"""Video near-dup dedup — the FOURTH modality, completing the dedup
matrix (text / image / audio / video).

The reference (StreamingJob.scala, 176 lines) has no multimodal
surface at all; this is driver-mandated extension surface composing
two in-repo real pipelines:

- **Per-sampled-frame perceptual hash**: the AVI demuxer
  (multimodal.AviVideoProber — genuine RIFF header walk) yields the
  MJPEG frame chunks; every ``stride``-th frame decodes through the
  in-repo baseline JPEG codec to a luma plane and hashes with the
  image family's DCT pHash (image_dedup.phash64, Zauner 2010). A
  video's bytes reduce to ONE 8-byte hash per sampled frame before
  anything shuffles.
- **Landmark-run pairing**: runs of ``n`` consecutive sampled-frame
  hashes fingerprint the video exactly the way the audio
  constellation fingerprints a clip (audio.fingerprints_of, the
  Wang-2003 shape) — order-sensitive, so a reversed cut shares no
  runs — and videos pair on an fp EQUI-join with the hot-fp cap
  (audio_neardup_pairs is reused verbatim: the pairing core is
  modality-agnostic over any (doc_id, fp) landmark relation).

100 TB shape: frame bytes never leave the Arrow kernel; the landmark
relation is ~(frames/stride) rows of (long, int, 32-char md5) per
video; every pairwise step is an equi-join behind FP_CAP. No
cartesian, no driver-side data path.

The registered fixture corpus mirrors audio.MELODIES: "frame
melodies" of deterministic single-block gray MJPEG frames built by
the in-file T.81 baseline encoder, designed so the expected pairs are
hand-derivable (the VALUES-oracle precedent of audio_neardup_pairs
and clf_golden_log). Two invariances are provable, not just frozen:

- **Re-encode invariance**: the same dequantized coefficients written
  under quant table q=4 with doubled quantized values decode to the
  byte-identical luma plane as q=8 — a quality-preserving transcode
  changes every payload byte but no pixel, so the frame pHash is
  EXACTLY equal.
- **Re-level invariance**: boosting the dequantized DC by 64 adds
  exactly +8.0 to every pre-rounding IDCT value (orthonormal flat
  basis, 64/8), and +8 is even so round-half-even shifts every pixel
  by exactly 8. In the 32x32 hash DCT a constant shift moves only the
  DC coefficient, which stays the strict maximum of the hashed 8x8
  block, so the median (an order statistic of the OTHER 63 values)
  and every bit are unchanged.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.operators.audio import (
    FP_CAP,
    audio_neardup_pairs,
    fingerprints_of,
)
from flink_exercise_spark.operators.image_dedup import (
    luma_plane_any,
    phash64,
)
from flink_exercise_spark.operators.multimodal import (
    AVI_PROBER,
    FRAME_STRIDE,
    _looks_avi,
    _looks_jpeg,
)
from flink_exercise_spark.registry import register
from flink_exercise_spark.sources.tables import spread

FP_FRAMES = 4  # consecutive sampled-frame hashes per landmark run
VFP_SCHEMA = "doc_id long, start_run int, fp string"


def frame_phashes_of(payload: bytes, stride: int = FRAME_STRIDE) -> list[int]:
    """The sampled-frame pHash sequence of one AVI payload — demux,
    decode every ``stride``-th MJPEG frame through the real JPEG
    codec, DCT-hash the luma plane. Non-AVI containers and non-JPEG
    frame codecs raise through the documented seams."""
    if not _looks_avi(payload):
        raise NotImplementedError(
            "video near-dup requires an AVI payload "
            "(filter on the container sniff upstream)"
        )
    frames = AVI_PROBER.frames(payload)
    out: list[int] = []
    for i in range(0, len(frames), stride):
        if not _looks_jpeg(frames[i]):
            raise NotImplementedError(
                "non-MJPEG AVI frame codec is outside the seam "
                "(JPEG frames decode for real)"
            )
        out.append(phash64(luma_plane_any(frames[i])))
    return out


def video_landmarks(
    with_payload: DataFrame,
    stride: int = FRAME_STRIDE,
    n: int = FP_FRAMES,
) -> DataFrame:
    """(doc_id, start_run, fp) landmark relation: runs of ``n``
    consecutive sampled-frame pHashes hashed into one fingerprint
    (audio.fingerprints_of over hash ints instead of peak bins) — the
    compact, order-sensitive join key the video bytes reduce to.
    Demux + decode + hash + run construction in ONE kernel pass so the
    frame planes never materialize between operators."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, starts, fps = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                hashes = frame_phashes_of(bytes(payload), stride)
                for i, fp in enumerate(fingerprints_of(hashes, n)):
                    ids.append(doc_id)
                    starts.append(i)
                    fps.append(fp)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "start_run": pd.Series(starts, dtype="int32"),
                    "fp": fps,
                }
            )

    src = (
        with_payload
        if with_payload.isStreaming
        else spread(with_payload, "doc_id")
    )
    return src.mapInPandas(run, schema=VFP_SCHEMA)


def video_neardup_pairs(
    landmarks: DataFrame, min_shared: int = 2, fp_cap: int = FP_CAP
) -> DataFrame:
    """(doc_a, doc_b, n_shared) for videos sharing >= ``min_shared``
    distinct landmark runs. The pairing core is audio_neardup_pairs
    VERBATIM — it is modality-agnostic over any (doc_id, fp) relation:
    distinct landmarks, count-then-anti-join hot-fp cap, fp equi-join,
    countDistinct threshold."""
    return audio_neardup_pairs(landmarks, min_shared, fp_cap)


# --- deterministic fixture corpus (the registered query's domain) ---
#
# Single-block 8x8 gray MJPEG frames from an in-file T.81 baseline
# encoder (the image_dedup bmp/png-encoder precedent). A frame
# "pattern" p fills ALL 63 AC positions with small deterministic
# pseudo-random values in {-2, -1, 1, 2} (md5 of (pattern, index))
# over a dequantized-128 DC. The dense spectrum is
# load-bearing: a sparse block leaves most of the hash DCT's
# coefficients exactly 0 = the median (margin 0), where float noise
# flips bits — with every AC mode populated the median sits strictly
# between coefficients (margin asserted > 0.02 in tests, the
# image_dedup guard). Distinct patterns decode to distinct planes
# (the IDCT is orthogonal over distinct coefficient vectors).

_Q_BASE = 8  # quant table value for the base encoding
_Q_RE = 4  # re-encode: halved table, doubled coefficients, same pixels
_DC_DQ = 128  # dequantized DC -> flat 144 before AC texture
_RELEVEL_DQ = 64  # DC boost -> +8.0 luma on every pixel, exactly

# Minimal canonical Huffman tables (T.81 Annex C): 12 DC categories at
# length 4; the AC symbols the patterns need at length 3. Deliberately
# NOT the decoder's tables — it builds its own from these DHT bytes.
_VDC_BITS = bytes([0, 0, 0, 12] + [0] * 12)
_VDC_VALS = bytes(range(12))
_VAC_SYMS = (0x00, 0x01, 0x02, 0x03, 0x04, 0x11, 0x21, 0xF0)
_VAC_BITS = bytes([0, 0, 8] + [0] * 13)
_VAC_VALS = bytes(_VAC_SYMS)


class _VBits:
    """MSB-first bit packer with JPEG byte stuffing; flush pads the
    final byte with 1-bits (T.81 F.1.2.3)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._buf = 0
        self._n = 0

    def put(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self._buf = (self._buf << 1) | ((code >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.out.append(self._buf)
                if self._buf == 0xFF:
                    self.out.append(0x00)
                self._buf = 0
                self._n = 0

    def flush(self) -> None:
        while self._n:
            self.put(1, 1)


def _venc_map(bits: bytes, vals: bytes) -> dict[int, tuple[int, int]]:
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return table


def _vseg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def gray_jpeg_frame(pattern: int, q: int = _Q_BASE, relevel: bool = False) -> bytes:
    """One 8x8 baseline grayscale JPEG for frame ``pattern``. All
    coefficients are specified as exact DEQUANTIZED targets divided by
    the uniform quant value ``q`` (every target is a multiple of 8, so
    q in {8, 4} divides exactly): the q=4 encoding is a true transcode
    of the q=8 one — different bytes, identical pixels."""
    from flink_exercise_spark.operators.multimodal import _JPEG_ZIGZAG

    dq_dc = _DC_DQ + (_RELEVEL_DQ if relevel else 0)
    coefs = [0] * 64  # natural order
    coefs[0] = dq_dc // q
    for i in range(1, 64):
        # dequantized AC targets 8*{-2,-1,1,2}: multiples of 8 so both
        # quant tables divide exactly; never 0 so every AC mode is
        # populated (the dense-spectrum requirement above); md5 mixing
        # so no two patterns share a coefficient stream (an integer
        # LCG mod 8 measurably collided patterns congruent mod 8); the
        # +/-2 cap keeps the decoded plane inside [60, 230] — no
        # clipping, so the re-level +8 stays exact on every pixel
        # (range asserted in tests)
        r = hashlib.md5(f"{pattern}-{i}".encode()).digest()[0] % 4
        v = r - 2 if r < 2 else r - 1
        coefs[i] = (8 * v) // q
    out = bytearray(b"\xff\xd8")
    out += _vseg(0xDB, bytes([0]) + bytes([q] * 64))
    sof = bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
    sof += bytes([1, 1, 0x11, 0])
    out += _vseg(0xC0, sof)
    out += _vseg(0xC4, bytes([0x00]) + _VDC_BITS + _VDC_VALS)
    out += _vseg(0xC4, bytes([0x10]) + _VAC_BITS + _VAC_VALS)
    out += _vseg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    dcm = _venc_map(_VDC_BITS, _VDC_VALS)
    acm = _venc_map(_VAC_BITS, _VAC_VALS)
    bits = _VBits()

    def cat(v: int) -> int:
        return abs(v).bit_length()

    def amp(v: int, s: int) -> int:
        return v if v >= 0 else v + (1 << s) - 1

    # DC (predictor 0 for the single block)
    s = cat(coefs[0])
    length, code = dcm[s]
    bits.put(code, length)
    if s:
        bits.put(amp(coefs[0], s), s)
    # AC in zigzag order up to the last nonzero, then EOB
    zz = [coefs[_JPEG_ZIGZAG[i]] for i in range(64)]
    last = max((i for i in range(1, 64) if zz[i]), default=0)
    run = 0
    for i in range(1, last + 1):
        v = zz[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            length, code = acm[0xF0]
            bits.put(code, length)
            run -= 16
        s = cat(v)
        sym = (run << 4) | s
        if sym not in acm:
            raise ValueError(f"fixture AC table lacks symbol {sym:02x}")
        length, code = acm[sym]
        bits.put(code, length)
        bits.put(amp(v, s), s)
        run = 0
    if last < 63:
        length, code = acm[0x00]
        bits.put(code, length)
    bits.flush()
    out += bits.out + b"\xff\xd9"
    return bytes(out)


def mjpeg_avi_bytes(
    frames: list[bytes],
    usec_per_frame: int = 40_000,
    width: int = 8,
    height: int = 8,
) -> bytes:
    """Minimal RIFF/AVI container around MJPEG frame chunks: an avih
    main header carrying the genuine (rate, count, dims) plus a movi
    list of 00dc chunks — exactly the structures AviVideoProber
    walks."""
    avih = bytearray(56)
    avih[0:4] = usec_per_frame.to_bytes(4, "little")
    avih[16:20] = len(frames).to_bytes(4, "little")
    avih[32:36] = width.to_bytes(4, "little")
    avih[36:40] = height.to_bytes(4, "little")

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + len(body).to_bytes(4, "little") + body + pad

    hdrl = chunk(b"avih", bytes(avih))
    hdrl_list = chunk(b"LIST", b"hdrl" + hdrl)
    movi_body = b"".join(chunk(b"00dc", f) for f in frames)
    movi_list = chunk(b"LIST", b"movi" + movi_body)
    riff_body = b"AVI " + hdrl_list + movi_list
    return b"RIFF" + len(riff_body).to_bytes(4, "little") + riff_body


# Frame melodies, mirroring audio.MELODIES: each doc is a sequence of
# frame patterns; same pattern => provably identical pHash (byte-equal
# plane), distinct patterns => distinct planes (distinct pHashes
# asserted in tests/test_video_dedup.py). Expected pairs at
# min_shared=2 with FP_FRAMES=4 runs (a 6-frame video has 3 runs):
#   (0, 1): all 3 runs shared (doc 1 is a re-encoded AND re-leveled
#           transcode of doc 0 — every byte differs, no pHash does)
#   (2, 3): runs (7,8,9,10) and (8,9,10,11) shared -> 2
#   doc 4 is a singleton; doc 5 is doc 2 reversed (no run survives
#   reversal); doc 6 shares exactly ONE run with docs 2 and 3 ->
#   filtered by min_shared.
VIDEO_MELODIES: dict[int, tuple[tuple[int, ...], int, bool]] = {
    # doc_id: (frame patterns, quant value, relevel)
    0: ((1, 2, 3, 4, 5, 6), _Q_BASE, False),
    1: ((1, 2, 3, 4, 5, 6), _Q_RE, True),  # transcoded + brightened
    2: ((7, 8, 9, 10, 11, 12), _Q_BASE, False),
    3: ((7, 8, 9, 10, 11, 13), _Q_BASE, False),  # last frame changed
    4: ((20, 21, 22, 23, 24, 25), _Q_BASE, False),  # singleton
    5: ((12, 11, 10, 9, 8, 7), _Q_BASE, False),  # doc 2 reversed
    6: ((7, 8, 9, 10), _Q_BASE, False),  # 1 run only: below min_shared
}


def video_fixture_corpus(spark) -> DataFrame:
    return spark.createDataFrame(
        [
            (
                doc_id,
                mjpeg_avi_bytes(
                    [gray_jpeg_frame(p, q, relevel) for p in patterns]
                ),
            )
            for doc_id, (patterns, q, relevel) in sorted(
                VIDEO_MELODIES.items()
            )
        ],
        "doc_id long, payload binary",
    )


@register(
    "video_neardup_pairs",
    # VALUES oracle: hand-derived from the VIDEO_MELODIES table above
    # (the landmark runs are literal 4-pattern subsequences; see the
    # expected-pairs comment) and independently re-derived by the
    # pure-python set reference in tests/test_video_dedup.py — which
    # also pins the two transcode invariances (re-encode byte-equal
    # planes; re-level exact +8 shift) analytically, not just frozen.
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(2 AS BIGINT))
    ) AS t(doc_a, doc_b, n_shared)
    """,
    doc="Video near-dup dedup: per-sampled-frame DCT pHash over REAL "
        "AVI demux + JPEG decode, landmark-run equi-join pairing — "
        "the re-encoded+re-leveled transcode and the one-frame edit "
        "detected, the reversed cut and the single-shared-run clip "
        "correctly excluded",
    tags=("multimodal", "dedup", "video"),
)
def q_video_neardup_pairs(spark, sf_dir):
    pairs = video_neardup_pairs(
        video_landmarks(video_fixture_corpus(spark), stride=1)
    )
    return pairs.select(
        "doc_a", "doc_b", F.col("n_shared").cast("long").alias("n_shared")
    )
