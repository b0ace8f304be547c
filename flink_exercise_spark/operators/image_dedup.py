"""Image perceptual-hash near-duplicate dedup — the image modality's
answer to MinHash-LSH (text, dedup.py) and spectral fingerprints
(audio, audio.py), completing the dedup matrix across all three
modalities (VERDICT r10 gap #1).

Pipeline (the classic DCT perceptual hash — Zauner 2010 "Implementation
and Benchmarking of Perceptual Image Hash Functions"; the pHash /
ImageHash convention):

1. ``image_phash``: per image payload, an Arrow kernel decodes the
   LUMA PLANE through the in-repo REAL codecs (24-bit BMP, PNG in its
   full depth x color matrix, baseline+progressive JPEG — the same
   decoders mm_decode_features exercises), box-averages it to 32x32,
   applies the orthonormal 2-D DCT-II, and thresholds the top-left
   8x8 low-frequency block against its median: 64 bits packed into
   ONE BIGINT per image. Brightness shifts move only the DC term and
   contrast scaling multiplies every coefficient uniformly, so
   re-leveled / re-encoded copies land on (near-)identical hashes —
   the invariance that makes this a DEDUP key rather than a checksum.

2. ``image_phash_pairs``: candidate pairs via the SimHash idiom
   (dedup.py): split the 64-bit hash into 8 one-byte bands and
   equi-join on (band_idx, band_value) — by pigeonhole, any pair
   within Hamming distance < 8 shares at least one intact band, so
   recall at the default ``max_distance=7`` is exact, never
   probabilistic. Bands occurring in more than ``band_cap`` docs are
   dropped first (the BUCKET_CAP / FP_CAP discipline — a hot band is
   both uninformative and the join's N^2 bomb). Verification is one
   JVM-side ``bit_count(phash_a XOR phash_b)`` per candidate.

At 100 TB: image bytes reduce to ONE 8-byte hash each and never ride
a shuffle; the pair join is band-keyed with per-band fan-out capped.
Same contract as the text and audio near-dup families.

Non-image payloads raise through the documented real-decoder seam
(NotImplementedError), exactly like audio_spectral_fingerprint —
callers route on the container sniffs upstream. GIF rides its real
LZW decoder via ``decode_indices`` + palette luma.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.operators.multimodal import (
    BMP_DECODER,
    GIF_DECODER,
    JPEG_DECODER,
    PNG_DECODER,
    _looks_bmp,
    _looks_gif,
    _looks_jpeg,
    _looks_png,
)
from flink_exercise_spark.registry import register
from flink_exercise_spark.sources.tables import spread

HASH_SIZE = 8  # 8x8 low-frequency block -> 64-bit hash
IMG_SIZE = 32  # DCT input: HASH_SIZE * 4 (the ImageHash convention)
N_BANDS = 8  # one-byte bands: exact recall for hamming < 8
BAND_CAP = 64  # drop (band_idx, value) groups seen in more docs
PHASH_SCHEMA = "doc_id long, phash long"
# the BMP codec's luma weights (ITU-R BT.601), shared by every path
_LW = (0.299, 0.587, 0.114)


def luma_plane_any(payload: bytes):
    """The decoded luma plane as a float64 (height, width) array in
    [0, 255] — the pixel-level front door over the in-repo real
    codecs. BMP luma is the codec's BT.601 weighting; PNG covers the
    full depth x color matrix via ``_decode_samples`` (palette via
    PLTE lookup, sub-byte and 16-bit depths rescaled to 255); GIF is
    palette luma over the real LZW indices; JPEG is the codec's own
    IDCT luma plane. Anything else raises through the documented
    real-decoder seam."""
    import numpy as np

    if _looks_bmp(payload):
        pixel_off, width, n_rows = BMP_DECODER.probe(payload)
        row_size = ((24 * width + 31) // 32) * 4
        if pixel_off + row_size * n_rows > len(payload):
            raise NotImplementedError("BMP pixel array truncated")
        raw = np.frombuffer(
            payload, dtype=np.uint8, count=row_size * n_rows,
            offset=pixel_off,
        ).reshape(n_rows, row_size)[:, : 3 * width]
        bgr = raw.reshape(n_rows, width, 3).astype(np.float64)
        luma = _LW[0] * bgr[:, :, 2] + _LW[1] * bgr[:, :, 1] + (
            _LW[2] * bgr[:, :, 0]
        )
        height = int.from_bytes(payload[22:26], "little", signed=True)
        # positive height = bottom-up row storage (the BMP default)
        return luma[::-1] if height > 0 else luma
    if _looks_png(payload):
        w, h, channels, samples, depth = PNG_DECODER._decode_samples(
            payload
        )
        arr = np.asarray(samples, dtype=np.float64).reshape(
            h, w, channels
        )
        if payload[25] == 3:  # palette: PLTE lookup (entries 8-bit)
            plte = np.frombuffer(
                PNG_DECODER._plte(payload), dtype=np.uint8
            ).reshape(-1, 3)
            idx = arr[:, :, 0].astype(np.int64)
            if idx.max() >= len(plte):
                raise NotImplementedError(
                    "palette index beyond PLTE size"
                )
            rgb = plte[idx].astype(np.float64)
            return _LW[0] * rgb[:, :, 0] + _LW[1] * rgb[:, :, 1] + (
                _LW[2] * rgb[:, :, 2]
            )
        scale = 255.0 / ((1 << depth) - 1)
        if channels <= 2:  # gray / gray+alpha
            return arr[:, :, 0] * scale
        return (  # RGB / RGBA (alpha ignored, the codec convention)
            _LW[0] * arr[:, :, 0]
            + _LW[1] * arr[:, :, 1]
            + _LW[2] * arr[:, :, 2]
        ) * scale
    if _looks_gif(payload):
        w, h, ct, idx = GIF_DECODER.decode_indices(payload)
        plte = np.frombuffer(ct, dtype=np.uint8).reshape(-1, 3)
        ids = np.frombuffer(idx, dtype=np.uint8).astype(np.int64)
        rgb = plte[ids].astype(np.float64).reshape(h, w, 3)
        return _LW[0] * rgb[:, :, 0] + _LW[1] * rgb[:, :, 1] + (
            _LW[2] * rgb[:, :, 2]
        )
    if _looks_jpeg(payload):
        w, h, rows = JPEG_DECODER.luma_plane(payload)
        return np.frombuffer(rows, dtype=np.uint8).astype(
            np.float64
        ).reshape(h, w)
    raise NotImplementedError(
        "image phash requires a BMP/PNG/GIF/JPEG payload "
        "(filter on the container sniffs upstream)"
    )


def _box_resize(a, oh: int, ow: int):
    """Exact box-average resize to (oh, ow) via an integral image:
    output cell (oy, ox) averages the input block
    rows [oy*h//oh, max((oy+1)*h//oh, oy*h//oh + 1)) x the analogous
    columns — deterministic integer block boundaries (no
    interpolation kernel to disagree about), covering upscale too
    (degenerate blocks fall back to the single nearest pixel)."""
    import numpy as np

    h, w = a.shape
    ii = np.zeros((h + 1, w + 1))
    ii[1:, 1:] = np.cumsum(np.cumsum(a, axis=0), axis=1)
    oy = np.arange(oh)
    ox = np.arange(ow)
    y0 = (oy * h) // oh
    y1 = np.maximum(((oy + 1) * h) // oh, y0 + 1)
    x0 = (ox * w) // ow
    x1 = np.maximum(((ox + 1) * w) // ow, x0 + 1)
    block = (
        ii[y1[:, None], x1[None, :]]
        - ii[y0[:, None], x1[None, :]]
        - ii[y1[:, None], x0[None, :]]
        + ii[y0[:, None], x0[None, :]]
    )
    return block / ((y1 - y0)[:, None] * (x1 - x0)[None, :])


def _dct_matrix(n: int):
    """Orthonormal DCT-II basis: D[u, x] = c(u) sqrt(2/n)
    cos((2x+1) u pi / 2n), c(0) = 1/sqrt(2) — the JPEG transform
    (multimodal._JPEG_COS) at n=32 instead of 8."""
    import numpy as np

    x = np.arange(n)
    d = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / (2 * n))
    d *= np.sqrt(2.0 / n)
    d[0] /= np.sqrt(2.0)
    return d


def phash64(luma) -> int:
    """The 64-bit DCT perceptual hash of one luma plane, as a SIGNED
    long (two's complement — Spark BIGINT). Bits are the 8x8
    low-frequency DCT block compared against its own median
    (ImageHash convention: median over all 64 incl. DC), packed
    row-major MSB-first."""
    import numpy as np

    small = _box_resize(luma, IMG_SIZE, IMG_SIZE)
    d = _dct_matrix(IMG_SIZE)
    low = (d @ small @ d.T)[:HASH_SIZE, :HASH_SIZE]
    med = np.median(low)
    v = 0
    for bit in (low > med).flatten():
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v


def phash_margin(luma) -> float:
    """min |coefficient - median| over the hashed block — how far the
    closest bit sits from flipping. Tests assert fixture corpora keep
    this comfortably above float noise so the frozen VALUES oracle
    can never drift by a last-ulp difference."""
    import numpy as np

    small = _box_resize(luma, IMG_SIZE, IMG_SIZE)
    d = _dct_matrix(IMG_SIZE)
    low = (d @ small @ d.T)[:HASH_SIZE, :HASH_SIZE]
    return float(np.min(np.abs(low - np.median(low))))


def image_phash(with_payload: DataFrame) -> DataFrame:
    """(doc_id, phash) — one Arrow batch pass; the image bytes never
    survive into the output (the audio_spectral_fingerprint shape)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                ids.append(doc_id)
                hashes.append(phash64(luma_plane_any(bytes(payload))))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "phash": pd.Series(hashes, dtype="int64"),
                }
            )

    src = (
        with_payload
        if with_payload.isStreaming
        else spread(with_payload, "doc_id")
    )
    return src.mapInPandas(run, schema=PHASH_SCHEMA)


def image_phash_pairs(
    hashes: DataFrame,
    max_distance: int = N_BANDS - 1,
    band_cap: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming) for pairs within ``max_distance`` bits.
    Band equi-join only (never an image x image comparison): 8
    one-byte bands give EXACT recall for hamming < 8 by pigeonhole.
    Hot bands are cut by count-then-anti-join (the audio FP_CAP /
    dedup BUCKET_CAP idiom); the exact distance is one JVM-side
    ``bit_count`` over the XOR of two longs.

    ``band_cap`` defaults ADAPTIVE: an 8-bit band has only 256 values,
    so at n docs the UNIFORM load is n/256 per (band, value) — a fixed
    cap silently saturates once n exceeds 256 x cap and cuts every
    band including genuine duplicates' (measured: planted-pair recall
    0.50 at 20k docs under a fixed cap of 64, every pair hamming 0 —
    r11 bench_image_dedup). The default cuts values carrying more than
    ``8x`` the uniform load (degenerate/cluster bands — still the N^2
    guard), floored at BAND_CAP for small corpora; candidate volume
    stays <= ~8 x n^2/256, a 256x reduction over all-pairs, and each
    candidate costs one bit_count. Pass an int to pin the cap; at
    larger corpora pair within coarser blocks (source/shard) first."""
    if max_distance >= N_BANDS:
        raise ValueError(
            f"max_distance {max_distance} >= {N_BANDS} bands: the "
            "pigeonhole recall guarantee needs hamming < n_bands — "
            "raise N_BANDS (narrower bands) for looser thresholds"
        )
    from flink_exercise_spark.caching import persist_tracked

    # the banded relation feeds up to four subtrees (the adaptive-cap
    # load probe, the hot-band aggregate, both self-join sides);
    # persisted, the upstream hash lineage — typically the decode+DCT
    # kernel — runs exactly once (r11)
    bands = persist_tracked(
        hashes.select(
            "doc_id",
            "phash",
            F.posexplode(
                F.array(
                    *[
                        F.shiftright("phash", 8 * b).bitwiseAND(
                            F.lit(255)
                        )
                        for b in range(N_BANDS)
                    ]
                )
            ).alias("band_idx", "band_val"),
        )
    )
    if band_cap is None:
        # load probe against the persisted bands (n docs = rows / 8)
        band_cap = max(
            BAND_CAP, 8 * -(-(bands.count() // N_BANDS) // 256)
        )
    hot = (
        bands.groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > band_cap)
        .select("band_idx", "band_val")
    )
    capped = bands.join(
        F.broadcast(hot), ["band_idx", "band_val"], "left_anti"
    )
    a = capped.alias("a")
    b = capped.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.phash").alias("_pa"),
            F.col("b.phash").alias("_pb"),
        )
        .distinct()  # a pair may collide on several bands
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("_pa").bitwiseXOR(F.col("_pb"))).alias(
            "hamming"
        ),
    ).filter(F.col("hamming") <= max_distance)


# --- deterministic fixture corpus (the registered query's domain) ---
#
# The driver's value-hash gate needs a corpus whose pairs are exactly
# reproducible AND independently checkable: these encoders render
# known pixel patterns through the REAL container formats the codecs
# decode (the clf_golden_log precedent — a fixed input whose expected
# output is pinned as a VALUES constant and re-derived by an
# independent pure-python implementation in tests).


def bmp_encode_gray(rows: list[list[int]]) -> bytes:
    """Minimal 24-bit BI_RGB bottom-up BMP of a gray raster (r=g=b=v)
    — exactly the class BmpImageCodec decodes."""
    h = len(rows)
    w = len(rows[0])
    row_size = ((24 * w + 31) // 32) * 4
    pixels = bytearray()
    for r in reversed(rows):  # bottom-up storage
        line = bytearray()
        for v in r:
            line += bytes((v, v, v))
        line += b"\x00" * (row_size - len(line))
        pixels += line
    header = (
        b"BM"
        + (54 + len(pixels)).to_bytes(4, "little")
        + b"\x00" * 4
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + b"\x00" * 24
    )
    return bytes(header + pixels)


def png_encode_gray(rows: list[list[int]]) -> bytes:
    """Minimal 8-bit grayscale non-interlaced PNG (filter 0 per row)
    — the simplest class PngImageCodec decodes; used to pin that a
    RE-ENCODED copy (same pixels, different container) hashes
    identically."""
    import struct
    import zlib

    h = len(rows)
    w = len(rows[0])

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    raw = b"".join(b"\x00" + bytes(r) for r in rows)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def phash_fixture_rasters() -> dict[int, list[list[int]]]:
    """Ten 60x45 gray rasters: four base patterns each with a
    perturbed near-duplicate (brightness shift, re-encode, LCG noise,
    contrast scale) plus two singletons. Pure-integer generation so
    the test-side reference rebuilds them bit-for-bit. Base values
    stay in [25, 231] so the perturbations never clip (clipping would
    deform the spectrum instead of testing the hash's invariances),
    and every pattern carries genuine 2-D structure — a plain linear
    gradient's low-frequency DCT block is almost all exact zeros,
    which parks half the bits ON the median (zero margin, a frozen
    oracle one ulp from flipping)."""
    w, h = 60, 45

    def raster(f) -> list[list[int]]:
        return [[f(x, y) for x in range(w)] for y in range(h)]

    def clip(v: int) -> int:
        return 0 if v < 0 else 255 if v > 255 else v

    hyper = raster(lambda x, y: 25 + (x * y) % 206)
    ellipse = raster(
        lambda x, y: 25 + ((x - 30) ** 2 + 3 * (y - 22) ** 2) // 9 % 206
    )
    checker = raster(
        lambda x, y: 210 if ((x // 6) + (y // 6)) % 2 == 0 else 45
    )
    waves = raster(
        lambda x, y: 25 + ((x * x) // 7 + (y * y) // 5) % 206
    )

    # deterministic LCG noise in [-12, 12] (seeded, pure integer)
    state = 12345

    def noise() -> int:
        nonlocal state
        state = (state * 1103515245 + 12345) % (1 << 31)
        return (state >> 16) % 25 - 12

    checker_noisy = [[clip(v + noise()) for v in row] for row in checker]
    return {
        0: hyper,
        1: [[v + 14 for v in row] for row in hyper],  # brightness
        2: ellipse,
        3: ellipse,  # doc 3 re-encodes the SAME raster as PNG
        4: checker,
        5: checker_noisy,
        6: waves,
        7: [[(v * 85) // 100 + 10 for v in row] for row in waves],
        8: raster(lambda x, y: 25 + ((x // 3) * 7 + (y // 2) * 13) % 206),
        9: raster(
            lambda x, y: 25 + ((x - 10) ** 2 + (y - 35) ** 2) // 7 % 206
        ),
    }


def phash_fixture_corpus(spark) -> DataFrame:
    """The rasters as (doc_id, payload) — doc 3 travels as PNG, the
    rest as BMP, so the registered query exercises two real codecs
    end to end."""
    rasters = phash_fixture_rasters()
    rows = [
        (
            doc_id,
            png_encode_gray(r) if doc_id == 3 else bmp_encode_gray(r),
        )
        for doc_id, r in sorted(rasters.items())
    ]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


@register(
    "mm_image_phash_pairs",
    # Pin: tests/test_image_dedup.py pure-python re-derivation of
    # the frozen VALUES oracle.
    # VALUES oracle: the four perturbed-duplicate pairs with their
    # exact Hamming distances, independently re-derived by the
    # pure-python (no-numpy) reference in tests/test_image_dedup.py,
    # which also pins every image's bit-flip margin far above float
    # noise (the clf_golden_log hand-computed-constant precedent for
    # results no SQL engine can restate).
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT)),
      (CAST(4 AS BIGINT), CAST(5 AS BIGINT), CAST(2 AS BIGINT)),
      (CAST(6 AS BIGINT), CAST(7 AS BIGINT), CAST(0 AS BIGINT))
    ) AS t(doc_a, doc_b, hamming)
    """,
    doc="Image near-dup dedup: DCT perceptual hash over REAL decoded "
        "luma planes (BMP + re-encoded PNG), band equi-join + "
        "bit_count verify — brightness/noise/contrast/re-encode "
        "copies detected, singletons untouched",
    tags=("multimodal", "dedup", "image"),
)
def q_image_phash_pairs(spark, sf_dir):
    # explicit cap: the adaptive default's count() action would
    # execute the decode+DCT kernel a second time for its load probe —
    # pointless on the fixed 10-image corpus (adaptive == BAND_CAP
    # there anyway)
    pairs = image_phash_pairs(
        image_phash(phash_fixture_corpus(spark)), band_cap=BAND_CAP
    )
    return pairs.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


def decontaminate_images(
    corpus_hashes: DataFrame,
    benchmark_hashes: DataFrame,
    max_distance: int = N_BANDS - 1,
) -> DataFrame:
    """Benchmark-image decontamination: flag every corpus image within
    ``max_distance`` Hamming bits of ANY benchmark image — the vision
    twin of ``pipeline.decontaminate_against`` (exact 13-gram text
    overlap) and ``pipeline.decontaminate_fuzzy`` (near-dup text
    overlap): benchmark images leaking into a vision training corpus
    as brightness-shifted / re-encoded / lightly-noised copies defeat
    an exact-byte check but land within a few pHash bits.

    Inputs are HASHED relations (``image_phash`` output): corpus as
    (doc_id, phash), benchmark as (doc_id, phash) — the benchmark's
    ids come back as ``bench_id``. Returns (doc_id, bench_id,
    hamming), one row per flagged (corpus image, benchmark image)
    pair.

    Scale shape: the benchmark side is fixed-size by production
    contract (the decontaminate_against broadcast argument), so its
    8 one-byte bands broadcast — the corpus side never shuffles at
    all: one scan producing 8 band rows per image into a broadcast
    hash join, then one ``bit_count`` per candidate. Pigeonhole recall
    is exact for hamming < N_BANDS, same as ``image_phash_pairs``. No
    band cap: the per-band candidate volume is bounded by the
    benchmark's size, not the corpus's, so the hot-band N^2 bomb
    structurally cannot ignite (a corpus band value colliding with at
    most |benchmark| rows)."""
    if max_distance >= N_BANDS:
        raise ValueError(
            f"max_distance {max_distance} >= {N_BANDS} bands: the "
            "pigeonhole recall guarantee needs hamming < n_bands"
        )

    def banded(hashes: DataFrame, id_alias: str, h_alias: str) -> DataFrame:
        return hashes.select(
            F.col("doc_id").alias(id_alias),
            F.col("phash").alias(h_alias),
            F.posexplode(
                F.array(
                    *[
                        F.shiftright("phash", 8 * b).bitwiseAND(F.lit(255))
                        for b in range(N_BANDS)
                    ]
                )
            ).alias("band_idx", "band_val"),
        )

    cand = (
        banded(corpus_hashes, "doc_id", "_pc")
        .join(
            F.broadcast(banded(benchmark_hashes, "bench_id", "_pb")),
            ["band_idx", "band_val"],
        )
        .select("doc_id", "bench_id", "_pc", "_pb")
        .distinct()  # a pair may collide on several bands
    )
    return cand.select(
        "doc_id",
        "bench_id",
        F.bit_count(F.col("_pc").bitwiseXOR(F.col("_pb"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_distance)


def decontam_benchmark_corpus(spark) -> DataFrame:
    """Two held-out 'benchmark' images as (doc_id, payload): the hyper
    pattern as BMP and the waves pattern RE-ENCODED as PNG — so the
    registered query pins cross-container matching (corpus doc 6
    carries the same waves raster as BMP)."""
    rasters = phash_fixture_rasters()
    return spark.createDataFrame(
        [
            (100, bmp_encode_gray(rasters[0])),
            (101, png_encode_gray(rasters[6])),
        ],
        "doc_id long, payload binary",
    )


@register(
    "mm_image_decontaminate",
    # Pin: tests/test_image_dedup.py pHash re-derivation
    # VALUES oracle (frozen, re-derived by the pure-python reference
    # in tests/test_image_dedup.py): corpus docs 0/1 (hyper +
    # brightness copy) flag against benchmark 100 (the same hyper
    # raster) and docs 6/7 (waves + contrast copy) against benchmark
    # 101 (waves re-encoded as PNG) — brightness, contrast, AND
    # container re-encode leaks all land at their pair hammings from
    # the mm_image_phash_pairs oracle; the six unrelated corpus
    # images stay unflagged.
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(100 AS BIGINT), CAST(0 AS BIGINT)),
      (CAST(1 AS BIGINT), CAST(100 AS BIGINT), CAST(0 AS BIGINT)),
      (CAST(6 AS BIGINT), CAST(101 AS BIGINT), CAST(0 AS BIGINT)),
      (CAST(7 AS BIGINT), CAST(101 AS BIGINT), CAST(0 AS BIGINT))
    ) AS t(doc_id, bench_id, hamming)
    """,
    doc="Benchmark-image decontamination: corpus images within "
        "Hamming 7 of a broadcast benchmark pHash set — the vision "
        "twin of text decontamination; brightness/contrast/re-encode "
        "leaks flagged, unrelated images untouched",
    tags=("multimodal", "dedup", "image", "pipeline"),
)
def q_image_decontaminate(spark, sf_dir):
    flags = decontaminate_images(
        image_phash(phash_fixture_corpus(spark)),
        image_phash(decontam_benchmark_corpus(spark)),
    )
    return flags.select(
        "doc_id", "bench_id", F.col("hamming").cast("long").alias("hamming")
    )
