"""Multimodal column plumbing — north-star ops.

Design: image/audio/video payloads are opaque ``binary`` columns with a
typed metadata struct alongside. Heavy per-item work (decode, resize,
feature extraction, frame sampling) runs in Arrow-batched Pandas UDFs
via ``mapInPandas`` — one Python round-trip per batch, not per row —
and the *Spark-side* contract (schema, partition sizing, batch shape)
is identical whether the decoder is real or stubbed.

The container has no image/audio libraries, so the default decode
kernel is a clearly-marked deterministic fake (FakeImageCodec) behind
the same interface a real libvips/PIL/ffmpeg kernel would implement.
Five image/audio seams are REAL, stdlib-only: uncompressed 24-bit BMP
(BmpImageCodec, r7), compressed PNG (PngImageCodec, r8 — zlib inflate
+ per-scanline unfilter, all five filter types; r10 completes the
format: Adam7 interlace, sub-byte depths 1/2/4, 16-bit channels —
every legal depth x color-type x interlace combination decodes),
compressed GIF
(GifImageCodec, r8 — hand-rolled variable-width LZW; GIF's entropy
coding has no stdlib module to lean on; r10 adds interlaced frames:
the 4-pass row permutation), JPEG
(JpegImageCodec, r10 — canonical Huffman + dequant + exact IDCT of
the luma plane, baseline sequential AND progressive SOF2 with
spectral selection, successive approximation, EOB runs, and
marker-level skipping of chroma AC scans; arithmetic coding and
12-bit remain the narrowed seam) and 16-bit PCM mono
WAV (WavAudioCodec, r7, via the ``wave`` module), and MJPEG video
(r10: AVI_PROBER.frames demuxes the movi stream and video_frame_luma
decodes every sampled frame through the in-repo JPEG codec — real
per-frame pixel math, baseline or progressive) — ``decode_any`` /
the audio kernel dispatch on
strict container sniffs (magic bytes + internal length consistency),
so genuine media bytes get real pixel/sample math while everything
else keeps the deterministic stub. The fixtures carry no binary
column, so the registered queries manufacture one from
``documents.text`` (utf-8 encode) — text payloads can never satisfy
the sniffs, which keeps the md5-arithmetic oracles exact; the real
paths are exercised on checked-in media files in
tests/test_multimodal.py.

Scale notes: mapInPandas streams Arrow batches, so executor memory
bounds are per-batch (spark.sql.execution.arrow.maxRecordsPerBatch),
not per-partition — the right shape for multi-MB payloads. At 100 TB,
payloads live in parquet binary columns (or object-store URIs for
>~64 MB items) partitioned so that one partition's decoded batch fits
the executor; feature extraction is compute-bound, so
spark.task.cpus / GPU scheduling govern throughput, not shuffle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table, spread

DECODED_SCHEMA = (
    "doc_id long, n_bytes int, format string, width int, height int, "
    "mean_luma double"
)


@dataclass(frozen=True)
class FakeImageCodec:
    """Deterministic stand-in for a real image decoder.

    A real kernel (PIL/libvips) would parse the container header for
    (format, width, height) and decode pixels for luma stats. This fake
    derives the same-shaped outputs from a hash of the payload, so the
    pipeline is testable end-to-end without media libraries.
    """

    def decode(self, payload: bytes) -> tuple[str, int, int, float]:
        if not payload:
            raise NotImplementedError(
                "real decoder required for empty/exotic payloads"
            )
        h = hashlib.md5(payload).digest()
        width = 64 + h[0] % 192          # fake 64..255 px
        height = 64 + h[1] % 192
        mean_luma = round(h[2] / 255.0, 6)
        return "fake/raw", width, height, mean_luma


DECODER = FakeImageCodec()


@dataclass(frozen=True)
class BmpImageCodec:
    """REAL image decoder for uncompressed 24-bit BMP — stdlib-only
    (struct-free: int.from_bytes header parsing), no PIL/libvips in
    this container. Fills one of the documented real-decoder seams:
    same (format, width, height, mean_luma) contract as
    FakeImageCodec, but the values come from actual pixel data.

    Supported: BITMAPINFOHEADER (or larger), biBitCount=24,
    biCompression=0 (BI_RGB), bottom-up or top-down rows. Anything
    else raises NotImplementedError — still a documented seam, now a
    narrower one.
    """

    def probe(self, payload: bytes) -> tuple[int, int, int]:
        """Header-only parse: (pixel_offset, width, n_rows). O(1) — the
        dims path for kernels that never read pixels (resize)."""
        if len(payload) < 54:
            raise NotImplementedError("truncated BMP header")
        pixel_off = int.from_bytes(payload[10:14], "little")
        width = int.from_bytes(payload[18:22], "little", signed=True)
        height = int.from_bytes(payload[22:26], "little", signed=True)
        bpp = int.from_bytes(payload[28:30], "little")
        compression = int.from_bytes(payload[30:34], "little")
        if bpp != 24 or compression != 0:
            raise NotImplementedError(
                f"real decoder covers 24-bit BI_RGB only "
                f"(got bpp={bpp}, compression={compression})"
            )
        # height may be negative (top-down row order — irrelevant for
        # dims/means); width may not. Zero-pixel images have no luma
        # and no resize aspect — the seam, not a crash (a width=0
        # header would otherwise divide by zero below).
        if width <= 0 or height == 0:
            raise NotImplementedError(
                f"degenerate BMP dimensions {width}x{height}"
            )
        return pixel_off, width, abs(height)

    def decode(self, payload: bytes) -> tuple[str, int, int, float]:
        pixel_off, width, n_rows = self.probe(payload)
        row_size = ((24 * width + 31) // 32) * 4  # rows pad to 4 bytes
        if pixel_off + row_size * n_rows > len(payload):
            raise NotImplementedError("BMP pixel array truncated")
        total = 0.0
        for r in range(n_rows):
            # Bounded slice: a tail slice here would copy the rest of
            # the file once per row — O(rows x filesize) memcpy.
            off = pixel_off + r * row_size
            row = payload[off:off + row_size]
            for c in range(width):
                # BMP stores BGR.
                b, g, rd = row[3 * c], row[3 * c + 1], row[3 * c + 2]
                total += 0.299 * rd + 0.587 * g + 0.114 * b
        mean_luma = round(total / (width * n_rows) / 255.0, 6)
        return "bmp", width, n_rows, mean_luma


BMP_DECODER = BmpImageCodec()


@dataclass(frozen=True)
class PngImageCodec:
    """REAL image decoder for PNG — stdlib-only (zlib inflate +
    per-scanline unfilter), no PIL/libvips in this container. Fills
    the compressed-image half of the codec seam (VERDICT r7 gap #2):
    same (format, width, height, mean_luma) contract as
    FakeImageCodec/BmpImageCodec, values from actual pixel data.

    Supported since r10: EVERY legal (depth, color type) combination —
    depths 1/2/4 (gray and palette, per spec the only sub-byte
    classes), 8 (all five color types), 16 (gray/RGB/GA/RGBA; the
    spec forbids 16-bit palette) — under interlace 0 AND Adam7
    interlace 1 (seven passes unfiltered independently — per-pass
    filter bytes and previous-row state — then de-interlaced into the
    raster via the standard origin/step tables; empty passes carry no
    bytes, per spec), all five filter types
    (None/Sub/Up/Average/Paeth). Filters operate on BYTES with the
    spec's bpp = max(1, channels * depth / 8) left-offset, so the one
    unfilter path serves every depth; sub-byte rows unpack MSB-first
    after unfiltering, 16-bit samples join big-endian. Luma divides
    by the depth's max value (2^depth - 1), so a 16-bit gradient and
    its 8-bit quantization agree to ~1/255."""

    # samples per pixel in the filtered stream; palette (3) is ONE
    # index per pixel — the unfilter path is shared, only the
    # luma step differs (indexed PLTE lookup)
    _CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
    # legal depths per color type (PNG spec table 11.1)
    _DEPTHS = {
        0: (1, 2, 4, 8, 16),
        2: (8, 16),
        3: (1, 2, 4, 8),
        4: (8, 16),
        6: (8, 16),
    }

    def probe(self, payload: bytes) -> tuple[int, int, int]:
        """IHDR-only parse: (width, height, channels). O(1) — the dims
        path for kernels that never inflate pixels (resize)."""
        if len(payload) < 33 or payload[12:16] != b"IHDR":
            raise NotImplementedError("truncated PNG / missing IHDR")
        width = int.from_bytes(payload[16:20], "big")
        height = int.from_bytes(payload[20:24], "big")
        depth, color, comp, filt, interlace = payload[24:29]
        if color not in self._CHANNELS or depth not in self._DEPTHS[color]:
            raise NotImplementedError(
                f"illegal PNG depth/color combination "
                f"(depth={depth}, color_type={color})"
            )
        if comp != 0 or filt != 0 or interlace not in (0, 1):
            raise NotImplementedError(
                f"unsupported PNG encoding (compression={comp}, "
                f"filter_method={filt}, interlace={interlace})"
            )
        if width == 0 or height == 0:
            raise NotImplementedError(
                f"degenerate PNG dimensions {width}x{height}"
            )
        return width, height, self._CHANNELS[color]

    @staticmethod
    def _paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        if pb <= pc:
            return b
        return c

    def decode_pixels(self, payload: bytes) -> tuple[int, int, int, bytes]:
        """8-bit decode: (width, height, channels, raw) with ``raw``
        the unfiltered row-major samples (height x width x channels
        bytes). Split from ``decode`` so tests can pin the unfilter
        arithmetic byte-for-byte against known pixel data per filter
        type; non-8-bit depths flow through ``_decode_samples``
        (integer samples + depth) instead of this byte view."""
        width, height, channels, samples, depth = self._decode_samples(
            payload
        )
        if depth != 8:
            raise NotImplementedError(
                "decode_pixels is the 8-bit byte view; use "
                "_decode_samples for other depths"
            )
        return width, height, channels, bytes(samples)

    def _decode_samples(
        self, payload: bytes
    ) -> tuple[int, int, int, list[int], int]:
        """Full decode to integer samples: (width, height, channels,
        samples, depth) with ``samples`` the row-major
        width x height x channels channel values (raw index values for
        palette images) in [0, 2^depth - 1]."""
        import zlib

        width, height, channels = self.probe(payload)
        depth = payload[24]
        # Walk chunks: 4-byte BE length, 4-byte type, data, 4-byte CRC.
        idat = bytearray()
        pos = 8
        while pos + 8 <= len(payload):
            ln = int.from_bytes(payload[pos : pos + 4], "big")
            ctype = payload[pos + 4 : pos + 8]
            data_end = pos + 8 + ln
            if data_end + 4 > len(payload):
                raise NotImplementedError("truncated PNG chunk")
            if ctype == b"IDAT":
                idat += payload[pos + 8 : data_end]
            elif ctype == b"IEND":
                break
            pos = data_end + 4
        if not idat:
            raise NotImplementedError("PNG carries no IDAT data")
        try:
            data = zlib.decompress(bytes(idat))
        except zlib.error as exc:
            raise NotImplementedError(f"corrupt PNG IDAT stream: {exc}")
        if payload[28] == 1:  # Adam7
            samples = self._deinterlace_adam7(
                data, width, height, channels, depth
            )
            return width, height, channels, samples, depth
        sub, pos = self._pass_samples(data, 0, width, height, channels, depth)
        if pos != len(data):
            raise NotImplementedError(
                f"PNG scanline data is {len(data)} bytes, expected {pos}"
            )
        return width, height, channels, sub, depth

    def _pass_samples(
        self,
        data: bytes,
        pos: int,
        width: int,
        height: int,
        channels: int,
        depth: int,
    ) -> tuple[list[int], int]:
        """Unfilter + unpack one (sub-)image of ``height`` scanlines
        starting at ``pos``; returns (samples, next pos). Filters
        operate on the packed BYTES with the spec's bpp left-offset
        (max(1, channels*depth/8)) and reference the previous line OF
        THIS IMAGE only (fresh zero prev — exactly why Adam7 passes
        unfilter independently); sub-byte rows then unpack MSB-first
        (pad bits in the last byte discarded), 16-bit samples join
        big-endian."""
        stride = (width * channels * depth + 7) // 8
        bpp = max(1, channels * depth // 8)
        if pos + (stride + 1) * height > len(data):
            raise NotImplementedError(
                f"PNG scanline data is {len(data)} bytes, expected at "
                f"least {pos + (stride + 1) * height}"
            )
        out: list[int] = []
        prev = bytes(stride)
        n_samples = width * channels
        for _ in range(height):
            ft = data[pos]
            cur = bytearray(data[pos + 1 : pos + 1 + stride])
            pos += 1 + stride
            if ft == 1:  # Sub
                for i in range(bpp, stride):
                    cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
            elif ft == 2:  # Up
                for i in range(stride):
                    cur[i] = (cur[i] + prev[i]) & 0xFF
            elif ft == 3:  # Average
                for i in range(stride):
                    left = cur[i - bpp] if i >= bpp else 0
                    cur[i] = (cur[i] + ((left + prev[i]) >> 1)) & 0xFF
            elif ft == 4:  # Paeth
                for i in range(stride):
                    left = cur[i - bpp] if i >= bpp else 0
                    ul = prev[i - bpp] if i >= bpp else 0
                    cur[i] = (cur[i] + self._paeth(left, prev[i], ul)) & 0xFF
            elif ft != 0:
                raise NotImplementedError(f"unknown PNG filter type {ft}")
            if depth == 8:
                out += cur
            elif depth == 16:
                for i in range(0, stride, 2):
                    out.append((cur[i] << 8) | cur[i + 1])
            else:  # 1/2/4-bit: MSB-first within each byte
                per_byte = 8 // depth
                mask = (1 << depth) - 1
                row: list[int] = []
                for b in cur:
                    for k in range(per_byte):
                        row.append((b >> (8 - depth * (k + 1))) & mask)
                out += row[:n_samples]
            prev = bytes(cur)
        return out, pos

    # Adam7 pass geometry: (x origin, y origin, x step, y step)
    _ADAM7 = (
        (0, 0, 8, 8),
        (4, 0, 8, 8),
        (0, 4, 4, 8),
        (2, 0, 4, 4),
        (0, 2, 2, 4),
        (1, 0, 2, 2),
        (0, 1, 1, 2),
    )

    def _deinterlace_adam7(
        self, data: bytes, width: int, height: int, channels: int, depth: int
    ) -> list[int]:
        """Seven independent sub-images, concatenated in pass order in
        the inflated stream; a pass with zero rows or columns carries
        NO bytes (not even filter bytes, per the spec). Each decoded
        pass pixel (i, j) lands at raster (x0 + i*dx, y0 + j*dy)."""
        out = [0] * (width * height * channels)
        pos = 0
        for x0, y0, dx, dy in self._ADAM7:
            pw = (width - x0 + dx - 1) // dx if width > x0 else 0
            ph = (height - y0 + dy - 1) // dy if height > y0 else 0
            if pw == 0 or ph == 0:
                continue
            sub, pos = self._pass_samples(
                data, pos, pw, ph, channels, depth
            )
            for j in range(ph):
                src = j * pw * channels
                y = y0 + j * dy
                for i in range(pw):
                    dst = (y * width + x0 + i * dx) * channels
                    s = src + i * channels
                    out[dst : dst + channels] = sub[s : s + channels]
        if pos != len(data):
            raise NotImplementedError(
                "trailing bytes after Adam7 PNG passes"
            )
        return out

    def _plte(self, payload: bytes) -> bytes:
        """The PLTE chunk's RGB triples (mandatory for color type 3;
        its absence is a malformed file -> seam)."""
        pos = 8
        while pos + 8 <= len(payload):
            ln = int.from_bytes(payload[pos : pos + 4], "big")
            ctype = payload[pos + 4 : pos + 8]
            data_end = pos + 8 + ln
            if data_end + 4 > len(payload):
                raise NotImplementedError("truncated PNG chunk")
            if ctype == b"PLTE":
                if ln == 0 or ln % 3 != 0 or ln > 256 * 3:
                    raise NotImplementedError(
                        f"malformed PLTE length {ln}"
                    )
                return payload[pos + 8 : data_end]
            if ctype in (b"IDAT", b"IEND"):
                break  # PLTE must precede IDAT
            pos = data_end + 4
        raise NotImplementedError("palette PNG carries no PLTE chunk")

    def decode(self, payload: bytes) -> tuple[str, int, int, float]:
        width, height, channels, raw, depth = self._decode_samples(payload)
        color = payload[25]
        total = 0.0
        if color == 3:  # palette: indexed PLTE lookup (entries 8-bit)
            plte = self._plte(payload)
            n_entries = len(plte) // 3
            # count per index, weight by the entry's luma —
            # O(pixels + palette), the GIF-decoder idiom
            counts = [0] * 256
            for b in raw:
                counts[b] += 1
            for i in range(256):
                if not counts[i]:
                    continue
                if i >= n_entries:
                    raise NotImplementedError(
                        f"palette index {i} beyond PLTE size {n_entries}"
                    )
                o = i * 3
                total += counts[i] * (
                    0.299 * plte[o]
                    + 0.587 * plte[o + 1]
                    + 0.114 * plte[o + 2]
                )
            maxval = 255  # PLTE entries are 8-bit whatever the index depth
        elif channels <= 2:  # gray / gray+alpha: luma IS the gray sample
            maxval = (1 << depth) - 1
            for p in range(width * height):
                total += raw[p * channels]
        else:  # RGB / RGBA (alpha ignored, the BMP luma convention)
            maxval = (1 << depth) - 1
            for p in range(width * height):
                o = p * channels
                total += (
                    0.299 * raw[o] + 0.587 * raw[o + 1] + 0.114 * raw[o + 2]
                )
        mean_luma = round(total / (width * height) / maxval, 6)
        return "png", width, height, mean_luma


PNG_DECODER = PngImageCodec()

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _looks_png(payload: bytes) -> bool:
    """Strict container sniff (the _looks_bmp contract): the 8-byte PNG
    signature AND a well-formed IHDR first chunk. The signature's \\x89
    first byte is not valid UTF-8 lead, so the fixtures' text-derived
    payloads can never route here (md5-arithmetic oracles stay exact)."""
    return (
        len(payload) >= 33
        and payload[:8] == _PNG_MAGIC
        and payload[8:12] == b"\x00\x00\x00\x0d"
        and payload[12:16] == b"IHDR"
    )


def _looks_bmp(payload: bytes) -> bool:
    """Strict container sniff: 'BM' magic AND the header's file-size
    field equal to the actual payload length — a UTF-8 text that
    happens to start with \"BM\" cannot satisfy both, so the fixture's
    text-derived payloads always route to the stub (keeping the
    md5-arithmetic oracles exact) while genuine BMP bytes route to the
    real decoder."""
    return (
        len(payload) >= 54
        and payload[:2] == b"BM"
        and int.from_bytes(payload[2:6], "little") == len(payload)
    )


def decode_any(payload: bytes) -> tuple[str, int, int, float]:
    """Codec front door: real decoder for recognized containers, the
    deterministic stub for everything else. A real pipeline would
    dispatch on a mime metadata column; payload sniffing keeps the
    fixture contract unchanged."""
    if _looks_bmp(payload):
        return BMP_DECODER.decode(payload)
    if _looks_png(payload):
        return PNG_DECODER.decode(payload)
    if _looks_gif(payload):
        return GIF_DECODER.decode(payload)
    if _looks_jpeg(payload):
        return JPEG_DECODER.decode(payload)
    return DECODER.decode(payload)


def probe_dims_any(payload: bytes) -> tuple[int, int]:
    """(width, height) without pixel work: header-only for real
    containers (an 8-megapixel BMP's mean-luma loop is ~25M Python ops
    a dims-only caller like resize must not pay), stub arithmetic
    otherwise."""
    if _looks_bmp(payload):
        _, w, n_rows = BMP_DECODER.probe(payload)
        return w, n_rows
    if _looks_png(payload):
        w, h, _ = PNG_DECODER.probe(payload)
        return w, h
    if _looks_gif(payload):
        return GIF_DECODER.probe(payload)
    if _looks_jpeg(payload):
        w, h, _ = JPEG_DECODER.probe(payload)
        return w, h
    _, w, h, _ = DECODER.decode(payload)
    return w, h


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Manufacture the opaque binary column the fixtures lack."""
    return docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )


def _nonempty(with_payload: DataFrame) -> DataFrame:
    """Drop empty payloads before any decode query: the stub codecs
    raise on an empty payload (the documented real-decoder seam), so
    the registered decode queries exclude them — and their oracles
    carry the matching ``WHERE octet_length(encode(text)) > 0`` so
    engine and oracle agree on the domain instead of one crashing
    where the other emits a row (pinned in tests/test_multimodal.py)."""
    return with_payload.filter(F.length("payload") > 0)


def binary_metadata(with_payload: DataFrame) -> DataFrame:
    """Cheap JVM-side metadata over binary payloads (no decode).

    ``F.md5`` hashes the BINARY column directly — a bytes->string cast
    would be lossy on arbitrary (non-UTF-8) payloads, the operator's
    actual domain."""
    return with_payload.select(
        "doc_id",
        F.length("payload").cast("int").alias("n_bytes"),
        F.md5("payload").alias("content_hash"),
    )


def decode_features(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched decode + feature extraction via mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode_any(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "format": [d[0] for d in decoded],
                    "width": pd.Series(
                        [d[1] for d in decoded], dtype="int32"
                    ),
                    "height": pd.Series(
                        [d[2] for d in decoded], dtype="int32"
                    ),
                    "mean_luma": [d[3] for d in decoded],
                }
            )

    return spread(with_payload, "doc_id").mapInPandas(
        run, schema=DECODED_SCHEMA
    )


@dataclass(frozen=True)
class FakeVideoCodec:
    """Deterministic stand-in for a container probe (ffprobe-style).

    Frame count derives from the first byte of md5(payload); a real
    kernel reads the container header. FPS is fixed at 24.
    """

    fps: int = 24

    def probe(self, payload: bytes) -> int:
        if not payload:
            raise NotImplementedError("real prober required for empty payloads")
        return 8 + hashlib.md5(payload).digest()[0] % 120


VIDEO_DECODER = FakeVideoCodec()


@dataclass(frozen=True)
class AviVideoProber:
    """REAL video container prober for RIFF/AVI — stdlib-only header
    walk, the ffprobe step of frame sampling. Fills the video seam the
    way a sampling kernel actually needs it filled: which frames exist
    and WHEN (dwTotalFrames, dwMicroSecPerFrame, dims) comes from the
    genuine container header; extracting the frame BYTES of a
    codec-compressed stream still requires a codec and remains the
    documented seam (same split as ffprobe vs ffmpeg).

    Parses the ``avih`` main header inside ``LIST hdrl``; malformed or
    incomplete structures raise NotImplementedError (seam, not crash).
    """

    def probe(self, payload: bytes) -> tuple[int, int, int, int]:
        """(n_frames, usec_per_frame, width, height)."""
        if len(payload) < 24 or payload[8:12] != b"AVI ":
            raise NotImplementedError("not an AVI RIFF body")
        pos = 12
        while pos + 8 <= len(payload):
            fourcc = payload[pos:pos + 4]
            size = int.from_bytes(payload[pos + 4:pos + 8], "little")
            if fourcc == b"LIST" and payload[pos + 8:pos + 12] == b"hdrl":
                inner = pos + 12
                end = pos + 8 + size
                while inner + 8 <= min(end, len(payload)):
                    c = payload[inner:inner + 4]
                    csz = int.from_bytes(
                        payload[inner + 4:inner + 8], "little"
                    )
                    if c == b"avih":
                        h = payload[inner + 8:inner + 8 + csz]
                        if len(h) < 40:
                            raise NotImplementedError("truncated avih")
                        usec = int.from_bytes(h[0:4], "little")
                        n_frames = int.from_bytes(h[16:20], "little")
                        width = int.from_bytes(h[32:36], "little")
                        height = int.from_bytes(h[36:40], "little")
                        if usec == 0 or n_frames == 0:
                            raise NotImplementedError(
                                "degenerate avih (zero rate or frames)"
                            )
                        return n_frames, usec, width, height
                    inner += 8 + csz + (csz % 2)
                break
            pos += 8 + size + (size % 2)
        raise NotImplementedError("no avih header found")


    def frames(self, payload: bytes) -> list[bytes]:
        """The video stream's frame chunks from ``LIST movi``, in
        stream order: fourcc ``##dc``/``##db`` (compressed / DIB)
        chunks, descending into ``LIST rec`` groups. Header-only AVIs
        (no movi list) and truncated chunks raise — the seam, not a
        crash. Completes the prober into a demuxer; DECODING a frame
        still needs a codec, which for MJPEG is the in-repo JPEG
        decoder (video_frame_luma)."""
        if len(payload) < 24 or payload[8:12] != b"AVI ":
            raise NotImplementedError("not an AVI RIFF body")

        out: list[bytes] = []

        def walk_chunks(start: int, end: int) -> None:
            pos = start
            while pos + 8 <= end:
                fourcc = payload[pos : pos + 4]
                size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
                if pos + 8 + size > end:
                    raise NotImplementedError("truncated AVI movi chunk")
                if fourcc == b"LIST" and payload[pos + 8 : pos + 12] == (
                    b"rec "
                ):
                    walk_chunks(pos + 12, pos + 8 + size)
                elif fourcc[2:4] in (b"dc", b"db"):
                    out.append(payload[pos + 8 : pos + 8 + size])
                pos += 8 + size + (size % 2)

        pos = 12
        while pos + 8 <= len(payload):
            fourcc = payload[pos : pos + 4]
            size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
            if fourcc == b"LIST" and payload[pos + 8 : pos + 12] == b"movi":
                walk_chunks(pos + 12, pos + 8 + size)
            pos += 8 + size + (size % 2)
        if not out:
            raise NotImplementedError(
                "AVI carries no movi frame chunks (header-only fixture?)"
            )
        return out


AVI_PROBER = AviVideoProber()


def _looks_avi(payload: bytes) -> bool:
    """Strict container sniff: 'RIFF' magic, the RIFF size field equal
    to the actual payload length - 8, AND the 'AVI ' form type — the
    same two-factor discipline as ``_looks_bmp``, so text-derived
    fixture payloads always route to the stub (md5-arithmetic oracles
    stay exact) while genuine AVI bytes route to the real prober."""
    return (
        len(payload) >= 12
        and payload[:4] == b"RIFF"
        and int.from_bytes(payload[4:8], "little") == len(payload) - 8
        and payload[8:12] == b"AVI "
    )


FRAME_STRIDE = 16  # sample every 16th frame

FRAME_SCHEMA = "doc_id long, frame_idx int, ts_ms long, frame_hash string"


def frame_sample(
    with_payload: DataFrame, stride: int = FRAME_STRIDE
) -> DataFrame:
    """Video frame sampling: one input row fans out to one row per
    sampled frame — the 1->N batch shape ``mapInPandas`` supports
    natively (output batches need not align with input rows).

    The per-frame "decoded bytes" stand-in is md5(payload + ':' + idx);
    a real kernel would emit the frame tensor or a JPEG re-encode.
    Frame timestamps use exact integer math (idx * 1000 // fps) so the
    DuckDB oracle reproduces them bit-for-bit.
    """

    fps = VIDEO_DECODER.fps

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, hashes = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                if _looks_avi(p):
                    # Real container: frame schedule from the genuine
                    # avih header (count + dwMicroSecPerFrame).
                    n_frames, usec, _, _ = AVI_PROBER.probe(p)
                    ts_of = lambda i: i * usec // 1000  # noqa: E731
                else:
                    n_frames = VIDEO_DECODER.probe(p)
                    ts_of = lambda i: i * 1000 // fps  # noqa: E731
                for i in range(0, n_frames, stride):
                    ids.append(doc_id)
                    idxs.append(i)
                    tss.append(ts_of(i))
                    hashes.append(
                        hashlib.md5(p + b":" + str(i).encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "ts_ms": pd.Series(tss, dtype="int64"),
                    "frame_hash": hashes,
                }
            )

    return spread(with_payload, "doc_id").mapInPandas(run, schema=FRAME_SCHEMA)


VIDEO_LUMA_SCHEMA = (
    "doc_id long, frame_idx int, ts_ms long, width int, height int, "
    "mean_luma double"
)


def video_frame_luma(
    with_payload: DataFrame, stride: int = FRAME_STRIDE
) -> DataFrame:
    """REAL video frame decode end-to-end (r10): demux the AVI movi
    stream (AVI_PROBER.frames) and decode every ``stride``-th frame
    through the in-repo JPEG decoder — MJPEG is exactly "a JPEG per
    frame", so the baseline+progressive codec upgrades the video seam
    from hash stand-ins (frame_sample) to actual per-frame pixel math
    with no new machinery. Timestamps come from the genuine avih
    header (idx * usec // 1000, exact integer math).

    Non-AVI payloads and non-JPEG frame codecs raise through the
    documented seam; callers route on the container sniff upstream
    (the audio-kernel convention). Same 1->N mapInPandas fan-out and
    scale shape as frame_sample."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, ws, hs, lumas = [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                if not _looks_avi(p):
                    raise NotImplementedError(
                        "video_frame_luma requires an AVI payload "
                        "(filter on the container sniff upstream)"
                    )
                _n, usec, _w, _h = AVI_PROBER.probe(p)
                frames = AVI_PROBER.frames(p)
                for i in range(0, len(frames), stride):
                    if not _looks_jpeg(frames[i]):
                        raise NotImplementedError(
                            "non-MJPEG AVI frame codec is outside the "
                            "seam (JPEG frames decode for real)"
                        )
                    _fmt, fw, fh, luma = JPEG_DECODER.decode(frames[i])
                    ids.append(doc_id)
                    idxs.append(i)
                    tss.append(i * usec // 1000)
                    ws.append(fw)
                    hs.append(fh)
                    lumas.append(luma)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "ts_ms": pd.Series(tss, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "mean_luma": pd.Series(lumas, dtype="float64"),
                }
            )

    return spread(with_payload, "doc_id").mapInPandas(
        run, schema=VIDEO_LUMA_SCHEMA
    )


@dataclass(frozen=True)
class FakeAudioCodec:
    """Deterministic stand-in for an audio decoder (soundfile-style).

    Sample rate and duration derive from md5(payload) bytes; a real
    kernel reads the container header. The Spark-side contract —
    binary in, one row per fixed-size sample window out, Arrow-batched
    — is identical with a real decoder swapped in.
    """

    window_samples: int = 1024
    RATES = (8000, 16000, 22050, 44100, 48000)

    def probe(self, payload: bytes) -> tuple[int, int]:
        """(sample_rate_hz, n_windows)."""
        if not payload:
            raise NotImplementedError("real decoder required for empty payloads")
        h = hashlib.md5(payload).digest()
        return self.RATES[h[0] % 5], 1 + h[1]


AUDIO_DECODER = FakeAudioCodec()


@dataclass(frozen=True)
class WavAudioCodec:
    """REAL audio decoder for 16-bit PCM mono WAV — stdlib ``wave``
    module, no soundfile/ffmpeg in this container. Fills the audio
    real-decoder seam: same (sample_rate, windows, RMS energy)
    contract as FakeAudioCodec, but the energies come from actual
    decoded samples.

    Supported: mono, 16-bit PCM (what ``wave`` itself parses).
    Other widths/channel counts raise NotImplementedError.
    """

    window_samples: int = 1024

    def _open(self, payload: bytes):
        import io
        import struct
        import wave

        try:
            w = wave.open(io.BytesIO(payload), "rb")
        except (wave.Error, EOFError, struct.error) as exc:
            # A payload can pass the RIFF/WAVE sniff yet carry no valid
            # fmt/data chunks (truncated recording); keep the seam's
            # single documented exception type instead of letting
            # wave.Error escape the Arrow kernel.
            raise NotImplementedError(f"unparseable WAV container: {exc}")
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            w.close()
            raise NotImplementedError(
                "real decoder covers 16-bit PCM mono WAV only"
            )
        return w

    def probe(self, payload: bytes) -> tuple[int, int]:
        """(sample_rate_hz, n_windows) from the actual container."""
        w = self._open(payload)
        try:
            rate, n = w.getframerate(), w.getnframes()
        finally:
            w.close()
        return rate, max(1, -(-n // self.window_samples))

    def window_energies(self, payload: bytes) -> tuple[int, list[float]]:
        """(sample_rate, per-window RMS of the full-scale-normalized
        samples) — the real computation the stub's md5 arithmetic
        stands in for."""
        import array
        import math

        w = self._open(payload)
        try:
            rate = w.getframerate()
            raw = w.readframes(w.getnframes())
        finally:
            w.close()
        samples = array.array("h")
        samples.frombytes(raw)
        if not samples:
            raise NotImplementedError(
                "real decoder required for empty audio streams"
            )
        win = self.window_samples
        energies = []
        for i in range(0, len(samples), win):
            chunk = samples[i:i + win]
            acc = 0
            for s in chunk:
                acc += s * s
            energies.append(
                round(math.sqrt(acc / len(chunk)) / 32768.0, 6)
            )
        return rate, energies


WAV_DECODER = WavAudioCodec()


def _looks_wav(payload: bytes) -> bool:
    """Strict container sniff (same contract as _looks_bmp): RIFF/WAVE
    magic AND the RIFF chunk-size field consistent with the payload
    length, so text-derived fixture payloads can never route here."""
    return (
        len(payload) >= 44
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WAVE"
        and int.from_bytes(payload[4:8], "little") == len(payload) - 8
    )


AUDIO_SCHEMA = (
    "doc_id long, window_idx int, ts_ms long, energy double, "
    "sample_rate int"
)


def audio_window_energy(with_payload: DataFrame) -> DataFrame:
    """Audio feature extraction: one input row fans out to one row per
    fixed-size sample window with an RMS-energy stand-in — the same
    1->N ``mapInPandas`` batch shape as video frame sampling, for the
    audio modality. Window timestamps use exact integer math
    (idx * window * 1000 // rate) and the energy stand-in is
    md5-derived, so the DuckDB oracle reproduces both bit-for-bit; a
    real kernel computes RMS over the decoded samples with the same
    schema and partitioning.
    """
    win = AUDIO_DECODER.window_samples

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, energies, rates = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                if _looks_wav(p):
                    # Real path: decode samples, true per-window RMS.
                    # Timestamps use the REAL codec's window size —
                    # the stub's `win` would mis-stamp windows if the
                    # two sizes ever diverge.
                    rate, ens = WAV_DECODER.window_energies(p)
                    w_sz = WAV_DECODER.window_samples
                else:
                    # Stub path: md5-derived stand-ins (oracle-exact).
                    rate, n_windows = AUDIO_DECODER.probe(p)
                    ens = [
                        round(
                            int(
                                hashlib.md5(
                                    p + b":" + str(i).encode()
                                ).hexdigest()[:4],
                                16,
                            )
                            / 65535.0,
                            6,
                        )
                        for i in range(n_windows)
                    ]
                    w_sz = win
                for i, e in enumerate(ens):
                    ids.append(doc_id)
                    idxs.append(i)
                    tss.append(i * w_sz * 1000 // rate)
                    energies.append(e)
                    rates.append(rate)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "window_idx": pd.Series(idxs, dtype="int32"),
                    "ts_ms": pd.Series(tss, dtype="int64"),
                    "energy": pd.Series(energies, dtype="float64"),
                    "sample_rate": pd.Series(rates, dtype="int32"),
                }
            )

    return spread(with_payload, "doc_id").mapInPandas(run, schema=AUDIO_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id long, width int, height int, thumb binary, thumb_bytes int"
)


def resize_images(with_payload: DataFrame, target: int = 64) -> DataFrame:
    """Thumbnail pipeline: decode -> scale dims to ``target`` on the
    long edge -> re-encode, binary in / binary out. The fake kernel
    emits the md5 digest as the "re-encoded" thumbnail; a real one
    returns actual image bytes — same schema, same Arrow batching."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, thumbs = [], [], []
            for payload in pdf["payload"]:
                p = bytes(payload)
                w, h = probe_dims_any(p)
                scale = target / max(w, h)
                ws.append(max(1, int(w * scale)))
                hs.append(max(1, int(h * scale)))
                thumbs.append(hashlib.md5(p).digest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "thumb": thumbs,
                    "thumb_bytes": pd.Series(
                        [len(t) for t in thumbs], dtype="int32"
                    ),
                }
            )

    return spread(with_payload, "doc_id").mapInPandas(run, schema=RESIZED_SCHEMA)


@register(
    "mm_binary_metadata",
    # Pandas pin: tests/test_rotation_pins.py.
    # The engine hashes the BINARY payload directly (binary-safe).
    # DuckDB's md5 only accepts VARCHAR, but it hashes the string's
    # UTF-8 encoding — exactly the bytes attach_binary_payload
    # manufactures via encode(text, 'UTF-8') — so md5(text) is the
    # byte-level twin here (a real non-UTF-8 payload has no DuckDB
    # SQL twin; the binary-safety itself is pinned in
    # tests/test_multimodal.py with a non-UTF-8 payload).
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    """,
    doc="Binary-column metadata (byte length + content hash), JVM-side",
    tags=("multimodal", "documents", "binary"),
)
def q_binary_meta(spark, sf_dir):
    docs = load_table(prep(spark), sf_dir, "documents")
    return binary_metadata(attach_binary_payload(docs))


@register(
    "mm_decode_features",
    # Pure-python pin: tests/test_rotation_pins.py.
    # Value-oracled since r5 (was rows-only): FakeImageCodec.decode is
    # pure md5-byte arithmetic (width/height from digest bytes 0-1,
    # mean_luma from byte 2), so the whole decode pipeline is
    # reproduced in SQL. A real codec swap returns this entry to
    # rows-only, by design.
    oracle="""
    WITH h AS (
      SELECT doc_id, md5(text) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n_bytes
      FROM documents
      WHERE octet_length(encode(text)) > 0
    )
    SELECT doc_id, n_bytes, 'fake/raw' AS format,
           CAST(64 + ('0x' || substr(hx, 1, 2))::INT % 192 AS INT) AS width,
           CAST(64 + ('0x' || substr(hx, 3, 2))::INT % 192 AS INT) AS height,
           round(('0x' || substr(hx, 5, 2))::INT / 255.0, 6) AS mean_luma
    FROM h
    """,
    doc="Pandas-UDF decode/feature pipeline over binary payloads "
        "(stubbed codec, real Arrow plumbing) — value-hash-checked "
        "against an exact SQL twin of the fake codec's arithmetic",
    tags=("multimodal", "documents", "pandas-udf"),
)
def q_decode_features(spark, sf_dir):
    docs = load_table(prep(spark), sf_dir, "documents")
    return decode_features(_nonempty(attach_binary_payload(docs)))


@register(
    "mm_frame_sample",
    # Hashlib pin: tests/test_rotation_pins.py.
    # The fake prober's arithmetic (md5-derived frame count, integer
    # frame timestamps, per-frame content hash) is reproduced exactly
    # in SQL, so this Pandas-UDF fan-out op IS value-hash-checked.
    oracle=f"""
    WITH probed AS (
      SELECT doc_id, text,
             8 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 120
               AS n_frames
      FROM documents
      WHERE octet_length(encode(text)) > 0
    )
    SELECT doc_id,
           CAST(fi AS INT) AS frame_idx,
           CAST(fi * 1000 // {FakeVideoCodec.fps} AS BIGINT) AS ts_ms,
           md5(text || ':' || CAST(fi AS VARCHAR)) AS frame_hash
    FROM probed, unnest(range(0, n_frames, {FRAME_STRIDE})) AS t(fi)
    """,
    doc="Video frame sampling: 1 row -> N sampled frames via "
        "mapInPandas (fan-out batch shape, stub prober)",
    tags=("multimodal", "documents", "pandas-udf", "video"),
)
def q_frame_sample(spark, sf_dir):
    docs = load_table(prep(spark), sf_dir, "documents")
    return frame_sample(_nonempty(attach_binary_payload(docs)))


@register(
    "mm_audio_energy",
    # Hashlib pin: tests/test_rotation_pins.py.
    # The fake prober's arithmetic (md5-derived rate/window count,
    # integer window timestamps, md5-derived energy stand-in) is
    # reproduced exactly in SQL, so this Pandas-UDF fan-out op is
    # value-hash-checked like its video twin.
    oracle="""
    WITH probed AS (
      SELECT doc_id, text,
             ([8000, 16000, 22050, 44100, 48000])[
               CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 5 + 1]
               AS sample_rate,
             1 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT)
               AS n_windows
      FROM documents
      WHERE octet_length(encode(text)) > 0
    )
    SELECT doc_id,
           CAST(wi AS INT) AS window_idx,
           CAST(wi * 1024 * 1000 // sample_rate AS BIGINT) AS ts_ms,
           round(CAST(('0x' || substr(md5(text || ':' ||
                 CAST(wi AS VARCHAR)), 1, 4)) AS INT) / 65535.0, 6)
             AS energy,
           CAST(sample_rate AS INT) AS sample_rate
    FROM probed, unnest(range(0, n_windows)) AS t(wi)
    """,
    doc="Audio windowed-energy extraction: 1 row -> N sample windows "
        "via mapInPandas (fan-out batch shape, stub decoder) — the "
        "audio modality twin of mm_frame_sample",
    tags=("multimodal", "documents", "pandas-udf", "audio"),
)
def q_audio_energy(spark, sf_dir):
    docs = load_table(prep(spark), sf_dir, "documents")
    return audio_window_energy(_nonempty(attach_binary_payload(docs)))


@register(
    "mm_resize_thumbs",
    # Pure-python pin: tests/test_rotation_pins.py.
    # Value-oracled since r6 (was rows-only): the registered form
    # renders the BINARY thumb as lowercase hex — the cross-engine
    # hash has no stable text rendering for raw blobs, but hex(thumb)
    # is deterministic text, and the fake re-encode IS md5(payload),
    # so DuckDB's md5(text) (lowercase hex of the same bytes) is its
    # exact twin. The dims reproduce the fake-resize float arithmetic
    # step for step (64.0/greatest first, then multiply, then trunc —
    # IEEE doubles agree bit-for-bit when the operation order does).
    # The binary round-trip itself stays pinned by
    # tests/test_multimodal.py; a real codec swap returns this entry
    # to rows-only, by design.
    oracle="""
    WITH h AS (
      SELECT doc_id, md5(text) AS hx
      FROM documents
      WHERE octet_length(encode(text)) > 0
    ), d AS (
      SELECT doc_id, hx,
             64 + ('0x' || substr(hx, 1, 2))::INT % 192 AS w,
             64 + ('0x' || substr(hx, 3, 2))::INT % 192 AS h
      FROM h
    )
    SELECT doc_id,
           CAST(greatest(1, trunc(w * (64.0 / greatest(w, h)))) AS INT)
             AS width,
           CAST(greatest(1, trunc(h * (64.0 / greatest(w, h)))) AS INT)
             AS height,
           hx AS thumb_hex,
           CAST(16 AS INT) AS thumb_bytes
    FROM d
    """,
    doc="Thumbnail resize: binary in -> binary out via mapInPandas "
        "(stub codec, real Arrow round-trip) — value-hash-checked via "
        "a hex rendering of the fake re-encode plus an exact SQL twin "
        "of the resize arithmetic",
    tags=("multimodal", "documents", "pandas-udf", "binary"),
)
def q_resize(spark, sf_dir):
    docs = load_table(prep(spark), sf_dir, "documents")
    out = resize_images(_nonempty(attach_binary_payload(docs)))
    return out.select(
        "doc_id",
        "width",
        "height",
        F.lower(F.hex("thumb")).alias("thumb_hex"),
        "thumb_bytes",
    )


@dataclass(frozen=True)
class GifImageCodec:
    """REAL image decoder for GIF87a/GIF89a — stdlib-only, including a
    hand-rolled variable-width LZW decoder (GIF's entropy coding is
    LZW, not zlib, so unlike PNG there is no stdlib inflate to lean
    on). Third real image container behind the seam (BMP r7, PNG r8):
    same (format, width, height, mean_luma) contract, values from
    actual palette-mapped pixel data of the FIRST frame.

    Supported: global or local color table, non-interlaced AND
    interlaced first image (r10: the 4-pass row permutation after
    LZW — unlike PNG's Adam7 there is no per-pass filter state), any
    extension blocks (skipped by the standard sub-block walk). Frames
    without any color table and corrupt/truncated LZW streams raise
    NotImplementedError — the documented seam, narrower again.
    Transparency (GCE) is ignored for luma, matching the PNG codec's
    alpha convention.
    """

    def _screen(self, payload: bytes) -> tuple[int, bytes, int]:
        """Parse up to the first byte after the logical screen
        descriptor (+ global color table): (pos, gct, gct_size)."""
        if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
            raise NotImplementedError("not a GIF container")
        packed = payload[10]
        pos = 13
        gct = b""
        if packed & 0x80:
            n = 3 * (2 << (packed & 0x07))
            gct = payload[pos : pos + n]
            if len(gct) < n:
                raise NotImplementedError("GIF global color table truncated")
            pos += n
        return pos, gct, len(gct) // 3

    def _first_image(
        self, payload: bytes
    ) -> tuple[int, int, int, bytes, int, bool]:
        """Walk blocks to the first image descriptor: returns
        (data_pos, width, height, color_table, n_colors, interlaced)
        with data_pos at the LZW-min-code-size byte."""
        pos, gct, n_gct = self._screen(payload)
        while pos < len(payload):
            b = payload[pos]
            if b == 0x21:  # extension: label + sub-blocks
                pos += 2
                while pos < len(payload) and payload[pos] != 0:
                    pos += 1 + payload[pos]
                pos += 1
            elif b == 0x2C:  # image descriptor
                if pos + 10 > len(payload):
                    raise NotImplementedError("GIF image descriptor truncated")
                w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
                h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
                packed = payload[pos + 9]
                pos += 10
                ct, n_ct = gct, n_gct
                if packed & 0x80:  # local color table
                    n = 3 * (2 << (packed & 0x07))
                    ct = payload[pos : pos + n]
                    if len(ct) < n:
                        raise NotImplementedError(
                            "GIF local color table truncated"
                        )
                    n_ct = n // 3
                    pos += n
                if w == 0 or h == 0:
                    raise NotImplementedError(f"degenerate GIF dims {w}x{h}")
                if not n_ct:
                    raise NotImplementedError(
                        "GIF frame has no color table (global or local)"
                    )
                return pos, w, h, ct, n_ct, bool(packed & 0x40)
            elif b == 0x3B:  # trailer before any image
                break
            else:
                raise NotImplementedError(
                    f"unknown GIF block 0x{b:02x} at {pos}"
                )
        raise NotImplementedError("GIF carries no image descriptor")

    def probe(self, payload: bytes) -> tuple[int, int]:
        """(width, height) of the first frame — header walk only, no
        LZW work (the resize dims path)."""
        _, w, h, _, _, _ = self._first_image(payload)
        return w, h

    @staticmethod
    def _lzw(data: bytes, mcs: int, expected: int) -> bytes:
        """Variable-width LZW (GIF flavor): codes LSB-first, clear =
        2^mcs resets the table, widths grow at table-full up to 12
        bits."""
        clear = 1 << mcs
        end = clear + 1
        literals = [bytes([i]) for i in range(clear)] + [b"", b""]
        table = list(literals)
        width = mcs + 1
        out = bytearray()
        prev: bytes | None = None
        bitpos = 0
        total = len(data) * 8
        while bitpos + width <= total:
            i = bitpos >> 3
            word = int.from_bytes(data[i : i + 3], "little")
            code = (word >> (bitpos & 7)) & ((1 << width) - 1)
            bitpos += width
            if code == clear:
                table = list(literals)
                width = mcs + 1
                prev = None
                continue
            if code == end:
                break
            if prev is None:
                if code >= len(table):
                    raise NotImplementedError("corrupt GIF LZW stream")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # the KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise NotImplementedError("corrupt GIF LZW stream")
            out += entry
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
            if len(out) >= expected:
                break
        if len(out) < expected:
            raise NotImplementedError(
                f"GIF LZW data yields {len(out)} of {expected} pixels"
            )
        return bytes(out[:expected])

    # GIF interlace passes: (first row, row step)
    _INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))

    @classmethod
    def _deinterlace(cls, idx: bytes, w: int, h: int) -> bytes:
        """GIF interlacing stores whole rows in four passes (rows
        0,8,16…; 4,12…; 2,6…; 1,3,5…) — de-interlacing is a pure row
        permutation of the LZW output, no per-pass filter state (the
        contrast with PNG's Adam7)."""
        out = bytearray(w * h)
        src = 0
        for first, step in cls._INTERLACE:
            for y in range(first, h, step):
                out[y * w : (y + 1) * w] = idx[src : src + w]
                src += w
        return bytes(out)

    def decode_indices(self, payload: bytes) -> tuple[int, int, bytes, bytes]:
        """(width, height, palette, index bytes) of the first frame —
        split from decode so tests pin the LZW arithmetic byte-exact.
        Interlaced frames (r10) de-interlace after LZW via the 4-pass
        row permutation."""
        pos, w, h, ct, n_ct, interlaced = self._first_image(payload)
        if pos >= len(payload):
            raise NotImplementedError("GIF image data truncated")
        mcs = payload[pos]
        if not (2 <= mcs <= 8):
            raise NotImplementedError(f"GIF LZW min code size {mcs}")
        pos += 1
        data = bytearray()
        while pos < len(payload) and payload[pos] != 0:
            n = payload[pos]
            chunk = payload[pos + 1 : pos + 1 + n]
            if len(chunk) < n:
                raise NotImplementedError("GIF data sub-block truncated")
            data += chunk
            pos += 1 + n
        idx = self._lzw(bytes(data), mcs, w * h)
        if max(idx) >= n_ct:
            raise NotImplementedError("GIF pixel index outside color table")
        if interlaced:
            idx = self._deinterlace(idx, w, h)
        return w, h, ct, idx

    def decode(self, payload: bytes) -> tuple[str, int, int, float]:
        w, h, ct, idx = self.decode_indices(payload)
        # palette-mapped luma: count per index, weight by the palette
        # entry's luma — O(pixels + palette), never pixels x 3 floats
        counts = [0] * (len(ct) // 3)
        for p in idx:
            counts[p] += 1
        total = 0.0
        for i, n in enumerate(counts):
            if n:
                r, g, b = ct[3 * i], ct[3 * i + 1], ct[3 * i + 2]
                total += n * (0.299 * r + 0.587 * g + 0.114 * b)
        return "gif", w, h, round(total / (w * h) / 255.0, 6)


GIF_DECODER = GifImageCodec()


def _looks_gif(payload: bytes) -> bool:
    """Strict container sniff (the _looks_bmp contract): the GIF magic
    AND a structurally walkable header reaching a real image
    descriptor. The magic is printable ASCII, so unlike PNG a text
    payload COULD start with it — the full block walk (sub-block
    lengths consistent with the payload, known block types only) is
    what text cannot satisfy, keeping the fixtures' md5-arithmetic
    oracles exact."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return False
    try:
        GIF_DECODER._first_image(payload)
        return True
    except NotImplementedError:
        return False


# Zigzag scan order: zigzag index -> natural (row*8 + col) position.
_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)

# IDCT basis: _JPEG_COS[u][x] = C(u) * cos((2x+1) * u * pi / 16), with
# C(0) = 1/sqrt(2) — precomputed once; the 2-D inverse transform is
# separable over it.
import math as _math

_JPEG_COS = tuple(
    tuple(
        (1.0 / _math.sqrt(2.0) if u == 0 else 1.0)
        * _math.cos((2 * x + 1) * u * _math.pi / 16)
        for x in range(8)
    )
    for u in range(8)
)


class _JpegBitReader:
    """MSB-first bit reader over an entropy-coded segment with JPEG
    byte unstuffing (0xFF 0x00 -> 0xFF). Any other marker inside the
    stream is a structural stop: restarts are consumed explicitly by
    ``restart()``; anything else is out of the baseline seam."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self._buf = 0
        self._n = 0

    def _load_byte(self) -> None:
        if self.pos >= len(self.data):
            raise NotImplementedError("truncated JPEG entropy stream")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = (
                self.data[self.pos + 1]
                if self.pos + 1 < len(self.data)
                else None
            )
            if nxt != 0x00:
                raise NotImplementedError(
                    f"unexpected marker 0xFF{nxt:02X} inside entropy data"
                    if nxt is not None
                    else "truncated JPEG entropy stream"
                )
            self.pos += 2
        else:
            self.pos += 1
        self._buf = (self._buf << 8) | b
        self._n += 8

    def read_bits(self, n: int) -> int:
        while self._n < n:
            self._load_byte()
        self._n -= n
        v = (self._buf >> self._n) & ((1 << n) - 1)
        self._buf &= (1 << self._n) - 1
        return v

    def restart(self, expect: int) -> None:
        """Byte-align and consume the RSTn marker closing a restart
        interval (caller resets DC predictors)."""
        self._buf = 0
        self._n = 0
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + expect
        ):
            raise NotImplementedError(
                f"missing restart marker RST{expect} at byte {self.pos}"
            )
        self.pos += 2


def _jpeg_huff_table(bits: bytes, vals: bytes) -> dict[tuple[int, int], int]:
    """Canonical JPEG Huffman table: {(length, code): value}, codes
    assigned in increasing length order (ITU T.81 Annex C)."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


@dataclass(frozen=True)
class JpegImageCodec:
    """REAL image decoder for baseline JPEG — stdlib-only (marker
    walk, canonical Huffman, dequantization, exact float IDCT), no
    PIL/libjpeg in this container. Fills the last common image seam
    (VERDICT r9 ask #3; the BMP/PNG/GIF precedents): same
    (format, width, height, mean_luma) contract, values from actual
    coefficient data.

    Supported: baseline/extended sequential DCT (SOF0/SOF1) AND
    progressive DCT (SOF2, r10 — see _decode_progressive), 8-bit,
    grayscale or interleaved YCbCr with the luma component carrying
    the scan's maximum sampling factors (every common 4:4:4 / 4:2:2 /
    4:2:0 file), restart intervals in every scan type. Arithmetic
    coding, 12-bit precision, and lossless/hierarchical frames raise
    NotImplementedError — a documented, narrower seam.

    Only the LUMA plane is inverse-transformed: JPEG's Y channel IS
    the Rec.601 luma the other codecs compute from RGB, and mean_luma
    is this kernel's only pixel-derived output — chroma blocks are
    entropy-decoded (the bitstream has no skip pointers) but never
    dequantized or transformed. A full-RGB kernel would add the
    chroma IDCTs and the fixed-point color convert on the same
    scaffolding."""

    def _frame(self, payload: bytes) -> tuple[int, int, int, list]:
        """Walk markers to the frame header: (width, height, marker,
        components[(id, h, v, tq)]). Rejects non-baseline frames."""
        if len(payload) < 4 or payload[0:2] != b"\xff\xd8":
            raise NotImplementedError("not a JPEG (missing SOI)")
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                raise NotImplementedError(
                    f"marker expected at byte {pos}"
                )
            marker = payload[pos + 1]
            if marker in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1/SOF2
                depth = payload[pos + 4]
                if depth != 8:
                    raise NotImplementedError(
                        f"only 8-bit precision supported (got {depth})"
                    )
                h = int.from_bytes(payload[pos + 5:pos + 7], "big")
                w = int.from_bytes(payload[pos + 7:pos + 9], "big")
                n_comp = payload[pos + 9]
                comps = []
                for i in range(n_comp):
                    o = pos + 10 + 3 * i
                    comps.append(
                        (
                            payload[o],
                            payload[o + 1] >> 4,
                            payload[o + 1] & 0x0F,
                            payload[o + 2],
                        )
                    )
                if w == 0 or h == 0:
                    raise NotImplementedError(
                        f"degenerate JPEG dimensions {w}x{h}"
                    )
                return w, h, marker, comps
            if marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                          0xCB, 0xCD, 0xCE, 0xCF):
                raise NotImplementedError(
                    f"unsupported JPEG frame (SOF marker 0xFF{marker:02X})"
                )
            if marker == 0xD9:  # EOI before any frame
                break
            seg_len = int.from_bytes(payload[pos + 2:pos + 4], "big")
            pos += 2 + seg_len
        raise NotImplementedError("no frame header before EOI")

    def probe(self, payload: bytes) -> tuple[int, int, int]:
        """Header-only parse: (width, height, n_components) — the dims
        path for kernels that never decode coefficients (resize)."""
        w, h, _, comps = self._frame(payload)
        return w, h, len(comps)

    @staticmethod
    def _parse_tables(marker: int, body: bytes, quant: dict, huff: dict):
        """Shared DQT/DHT segment parsing for the sequential AND
        progressive walks (code-review r10: the two loops were
        verbatim copies — a fix to one would silently miss the
        other). Mutates ``quant``/``huff`` in place; returns True if
        the marker was a table segment."""
        if marker == 0xDB:  # DQT (possibly several tables)
            o = 0
            while o < len(body):
                if body[o] >> 4 != 0:
                    raise NotImplementedError(
                        "16-bit quantization tables unsupported"
                    )
                quant[body[o] & 0x0F] = list(body[o + 1 : o + 65])
                o += 65
            return True
        if marker == 0xC4:  # DHT (possibly several tables)
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0x0F
                bits = body[o + 1 : o + 17]
                n_vals = sum(bits)
                vals = body[o + 17 : o + 17 + n_vals]
                huff[(tc, th)] = _jpeg_huff_table(bits, vals)
                o += 17 + n_vals
            return True
        return False

    def decode(self, payload: bytes) -> tuple[str, int, int, float]:
        w, h, yw, yplane = self._decode_plane(payload)
        total = 0
        for y in range(h):
            total += sum(yplane[y * yw:y * yw + w])
        return "jpeg", w, h, round(total / (w * h) / 255.0, 6)

    def luma_plane(self, payload: bytes) -> tuple[int, int, bytes]:
        """(width, height, rows): the decoded luma plane as cropped
        row-major bytes (MCU padding removed) — the pixel-level front
        door the image perceptual-hash dedup needs (r11); ``decode``'s
        mean is exactly ``sum(rows)/(w*h)/255`` by construction."""
        w, h, yw, yplane = self._decode_plane(payload)
        rows = bytearray(w * h)
        for y in range(h):
            rows[y * w:(y + 1) * w] = yplane[y * yw:y * yw + w]
        return w, h, bytes(rows)

    def _decode_plane(
        self, payload: bytes
    ) -> tuple[int, int, int, bytearray]:
        """Shared decode core: (width, height, padded_row_width,
        yplane) with ``yplane`` the luma plane padded to whole MCUs."""
        w, h, sof, comps = self._frame(payload)
        if sof == 0xC2:
            return self._decode_progressive(payload, w, h, comps)
        # --- full marker walk for tables + scan
        quant: dict[int, list[int]] = {}
        huff: dict[tuple[int, int], dict] = {}
        restart_interval = 0
        pos = 2
        scan = None
        while pos + 4 <= len(payload):
            marker = payload[pos + 1]
            seg_len = int.from_bytes(payload[pos + 2:pos + 4], "big")
            body = payload[pos + 4:pos + 2 + seg_len]
            if self._parse_tables(marker, body, quant, huff):
                pass
            elif marker == 0xDD:  # DRI
                restart_interval = int.from_bytes(body[0:2], "big")
            elif marker == 0xDA:  # SOS
                n_sc = body[0]
                if n_sc != len(comps):
                    raise NotImplementedError(
                        "non-interleaved multi-scan JPEG unsupported"
                    )
                sel = {}
                for i in range(n_sc):
                    cid = body[1 + 2 * i]
                    sel[cid] = (
                        body[2 + 2 * i] >> 4,
                        body[2 + 2 * i] & 0x0F,
                    )
                if tuple(body[1 + 2 * n_sc:4 + 2 * n_sc]) != (0, 63, 0):
                    raise NotImplementedError(
                        "spectral selection / successive approximation "
                        "are progressive-mode features"
                    )
                scan = (sel, pos + 2 + seg_len)
                break
            pos += 2 + seg_len
        if scan is None:
            raise NotImplementedError("no scan header before EOI")
        sel, data_pos = scan

        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        if (comps[0][1], comps[0][2]) != (hmax, vmax):
            raise NotImplementedError(
                "luma must carry the maximum sampling factors"
            )
        mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
        mcus_y = (h + 8 * vmax - 1) // (8 * vmax)

        reader = _JpegBitReader(payload, data_pos)
        dc_pred = {c[0]: 0 for c in comps}
        luma_id = comps[0][0]
        if comps[0][3] not in quant:
            raise NotImplementedError(
                f"no quantization table {comps[0][3]} before the scan"
            )
        yq = quant[comps[0][3]]
        for cid_, _ch, _cv, _tq in comps:
            for tc in (0, 1):
                if (tc, sel[cid_][tc]) not in huff:
                    raise NotImplementedError(
                        f"scan references missing Huffman table "
                        f"(class {tc}, id {sel[cid_][tc]})"
                    )
        # Y plane, padded to whole MCUs; mean taken over w x h only
        yw = mcus_x * 8 * hmax
        yplane = bytearray(yw * mcus_y * 8 * vmax)

        def decode_huff(table: dict) -> int:
            return self._decode_huff(reader, table)

        extend = self._extend

        n_rst = 0
        for mcu in range(mcus_x * mcus_y):
            if restart_interval and mcu and mcu % restart_interval == 0:
                reader.restart(n_rst % 8)
                n_rst += 1
                dc_pred = {c[0]: 0 for c in comps}
            mx, my = mcu % mcus_x, mcu // mcus_x
            for cid, ch, cv, tq in comps:
                dc_tbl = huff[(0, sel[cid][0])]
                ac_tbl = huff[(1, sel[cid][1])]
                for by in range(cv):
                    for bx in range(ch):
                        coefs = [0] * 64
                        s = decode_huff(dc_tbl)
                        dc_pred[cid] += extend(reader.read_bits(s), s)
                        coefs[0] = dc_pred[cid]
                        k = 1
                        while k <= 63:
                            rs = decode_huff(ac_tbl)
                            r, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if r == 15:  # ZRL: sixteen zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise NotImplementedError(
                                    "AC run past block end"
                                )
                            coefs[_JPEG_ZIGZAG[k]] = extend(
                                reader.read_bits(size), size
                            )
                            k += 1
                        if cid != luma_id:
                            continue  # chroma: stream advanced, done
                        self._luma_idct_into(
                            yplane,
                            yw,
                            (mx * ch + bx) * 8,
                            (my * cv + by) * 8,
                            coefs,
                            yq,
                        )
        return w, h, yw, yplane

    # --- shared entropy/transform helpers -----------------------------------

    @staticmethod
    def _extend(v: int, s: int) -> int:
        return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v

    @staticmethod
    def _decode_huff(reader: "_JpegBitReader", table: dict) -> int:
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | reader.read_bits(1)
            length += 1
            v = table.get((length, code))
            if v is not None:
                return v
        raise NotImplementedError("invalid Huffman code in scan")

    @staticmethod
    def _luma_idct_into(
        yplane: bytearray,
        yw: int,
        x0: int,
        y0: int,
        coefs: list,
        q_zz: list,
    ) -> None:
        """Dequantize (the quant table is zigzag-ordered, like the
        coefficient scan) + exact separable IDCT of one natural-order
        luma block into the padded Y plane."""
        dq = [0.0] * 64
        for z in range(64):
            n = _JPEG_ZIGZAG[z]
            if coefs[n]:
                dq[n] = coefs[n] * q_zz[z]
        rows = [
            [
                sum(
                    dq[v * 8 + u] * _JPEG_COS[u][x]
                    for u in range(8)
                    if dq[v * 8 + u]
                )
                for x in range(8)
            ]
            for v in range(8)
        ]
        for y in range(8):
            base = (y0 + y) * yw + x0
            for x in range(8):
                val = 0.25 * sum(
                    rows[v][x] * _JPEG_COS[v][y] for v in range(8)
                )
                pv = int(round(val)) + 128
                yplane[base + x] = 0 if pv < 0 else 255 if pv > 255 else pv

    # --- progressive mode (SOF2) ---------------------------------------------

    @staticmethod
    def _skip_entropy(payload: bytes, pos: int) -> int:
        """Advance past an entropy-coded segment WITHOUT decoding it:
        scan for the next true marker, stepping over byte stuffing
        (FF 00), fill bytes (FF FF...), and restart markers (FF D0-D7).
        This is what makes progressive chroma scans free: each scan is
        marker-delimited, so a luma-only decoder never entropy-decodes
        a chroma AC scan at all."""
        n = len(payload)
        while pos + 1 < n:
            if payload[pos] != 0xFF:
                pos += 1
                continue
            nxt = payload[pos + 1]
            if nxt == 0x00:
                pos += 2
            elif nxt == 0xFF:
                pos += 1
            elif 0xD0 <= nxt <= 0xD7:
                pos += 2
            else:
                return pos
        raise NotImplementedError("truncated JPEG entropy stream")

    def _decode_progressive(
        self, payload: bytes, w: int, h: int, comps: list
    ) -> tuple[int, int, int, bytearray]:
        """Progressive JPEG (SOF2, T.81 Annex G): every scan delivers a
        slice of the coefficient data — DC first/refinement scans
        (interleaved or single-component), then per-component AC scans
        with spectral selection (Ss..Se) and successive approximation
        (Ah/Al). Coefficients accumulate in a per-block store across
        scans; dequant + IDCT run ONCE at EOI. Only the luma component
        keeps coefficients, and chroma AC scans are skipped at the
        marker level without entropy decoding (progressive AC scans
        are single-component per the spec — the structural win over
        baseline, where chroma must be entropy-decoded to stay in the
        bitstream). Arithmetic coding and 12-bit stay out of scope via
        the shared _frame guard."""
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        if (comps[0][1], comps[0][2]) != (hmax, vmax):
            raise NotImplementedError(
                "luma must carry the maximum sampling factors"
            )
        luma_id, lch, lcv, ltq = comps[0]
        mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
        mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
        pw, ph = mcus_x * lch, mcus_y * lcv  # padded luma block grid
        # non-interleaved luma grid (single-component scan geometry:
        # ceil(component dims / 8), NOT padded to whole MCUs)
        nbx = (-(-w * lch // hmax) + 7) // 8
        nby = (-(-h * lcv // vmax) + 7) // 8
        coefs = [[0] * 64 for _ in range(pw * ph)]
        quant: dict[int, list[int]] = {}
        huff: dict[tuple[int, int], dict] = {}
        restart_interval = 0
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                raise NotImplementedError(f"marker expected at byte {pos}")
            marker = payload[pos + 1]
            if marker == 0xD9:  # EOI
                break
            seg_len = int.from_bytes(payload[pos + 2 : pos + 4], "big")
            body = payload[pos + 4 : pos + 2 + seg_len]
            if self._parse_tables(marker, body, quant, huff):
                pass
            elif marker == 0xDD:
                restart_interval = int.from_bytes(body[0:2], "big")
            elif marker == 0xDA:
                n_sc = body[0]
                sel = {}
                order = []
                for i in range(n_sc):
                    cid = body[1 + 2 * i]
                    sel[cid] = (body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0x0F)
                    order.append(cid)
                o = 1 + 2 * n_sc
                ss, se, a = body[o], body[o + 1], body[o + 2]
                ah, al = a >> 4, a & 0x0F
                data_pos = pos + 2 + seg_len
                if n_sc == 1 and order[0] != luma_id:
                    # single-component chroma scan (DC or AC): the
                    # scan is marker-delimited, so a luma-only decoder
                    # steps over it without entropy work
                    pos = self._skip_entropy(payload, data_pos)
                    continue
                if ss == 0:
                    if se != 0:
                        raise NotImplementedError(
                            "progressive DC scan with Se != 0"
                        )
                    pos = self._prog_dc_scan(
                        payload, data_pos, comps, order, sel, huff,
                        restart_interval, ah, al, coefs, luma_id,
                        mcus_x, mcus_y, pw, nbx, nby,
                    )
                else:
                    if n_sc != 1:
                        raise NotImplementedError(
                            "interleaved AC scan in progressive JPEG"
                        )
                    pos = self._prog_ac_scan(
                        payload, data_pos, sel[luma_id][1], huff,
                        restart_interval, ss, se, ah, al, coefs,
                        pw, nbx, nby,
                    )
                continue
            pos += 2 + seg_len
        if ltq not in quant:
            raise NotImplementedError("no quantization table for luma")
        yq = quant[ltq]
        yw = pw * 8
        yplane = bytearray(yw * ph * 8)
        for by in range(ph):
            for bx in range(pw):
                self._luma_idct_into(
                    yplane, yw, bx * 8, by * 8, coefs[by * pw + bx], yq
                )
        return w, h, yw, yplane

    def _prog_dc_scan(
        self, payload, data_pos, comps, order, sel, huff,
        restart_interval, ah, al, coefs, luma_id, mcus_x, mcus_y,
        pw, nbx, nby,
    ) -> int:
        """One progressive DC scan: first pass (Ah=0 — Huffman-coded
        point-transformed differences, coef[0] = pred << Al) or
        refinement (Ah>0 — ONE raw bit per block, OR-ed in at Al).
        Interleaved scans walk MCUs with every member component's
        blocks (chroma bits must be consumed to stay in the stream);
        single-component scans walk the component's own block raster.
        Returns the byte position of the next marker."""
        reader = _JpegBitReader(payload, data_pos)
        in_scan = [c for c in comps if c[0] in sel]
        if order != [c[0] for c in in_scan]:
            raise NotImplementedError(
                "scan component order must follow the frame header"
            )
        dc_pred = {cid: 0 for cid in order}
        interleaved = len(in_scan) > 1

        def one_block(cid, tbl, idx):
            if ah == 0:
                s = self._decode_huff(reader, tbl)
                dc_pred[cid] += self._extend(reader.read_bits(s), s)
                if idx is not None:
                    coefs[idx][0] = dc_pred[cid] << al
            else:
                bit = reader.read_bits(1)
                if idx is not None and bit:
                    coefs[idx][0] |= 1 << al

        n_rst = 0
        if interleaved:
            for mcu in range(mcus_x * mcus_y):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    reader.restart(n_rst % 8)
                    n_rst += 1
                    dc_pred = {cid: 0 for cid in order}
                mx, my = mcu % mcus_x, mcu // mcus_x
                for cid, ch, cv, _tq in in_scan:
                    tbl = huff.get((0, sel[cid][0])) if ah == 0 else None
                    if ah == 0 and tbl is None:
                        raise NotImplementedError(
                            f"missing DC Huffman table {sel[cid][0]}"
                        )
                    for by in range(cv):
                        for bx in range(ch):
                            idx = (
                                (my * cv + by) * pw + mx * ch + bx
                                if cid == luma_id
                                else None
                            )
                            one_block(cid, tbl, idx)
        else:
            cid = order[0]
            tbl = huff.get((0, sel[cid][0])) if ah == 0 else None
            if ah == 0 and tbl is None:
                raise NotImplementedError(
                    f"missing DC Huffman table {sel[cid][0]}"
                )
            # the dispatcher routes non-luma single-component scans
            # through _skip_entropy, so this raster is always luma's
            for i in range(nbx * nby):
                if restart_interval and i and i % restart_interval == 0:
                    reader.restart(n_rst % 8)
                    n_rst += 1
                    dc_pred = {cid: 0 for cid in order}
                by, bx = divmod(i, nbx)
                one_block(cid, tbl, by * pw + bx)
        return self._skip_entropy(payload, reader.pos)

    def _prog_ac_scan(
        self, payload, data_pos, ac_tbl_id, huff, restart_interval,
        ss, se, ah, al, coefs, pw, nbx, nby,
    ) -> int:
        """One luma AC scan (progressive AC scans are single-component
        per the spec). Ah=0: first pass for the Ss..Se band at
        precision Al, with EOB-run coding (T.81 G.1.2.2). Ah>0:
        refinement pass (G.1.2.3) — newly significant coefficients
        arrive as run-coded ±1 at Al, and every already-nonzero
        coefficient traversed consumes one correction bit that
        extends its magnitude at Al. Returns the next marker position."""
        tbl = huff.get((1, ac_tbl_id))
        if tbl is None:
            raise NotImplementedError(
                f"missing AC Huffman table {ac_tbl_id}"
            )
        reader = _JpegBitReader(payload, data_pos)
        zz = _JPEG_ZIGZAG
        p1, m1 = 1 << al, -(1 << al)
        eobrun = 0
        n_rst = 0
        for i in range(nbx * nby):
            if restart_interval and i and i % restart_interval == 0:
                reader.restart(n_rst % 8)
                n_rst += 1
                eobrun = 0
            by, bx = divmod(i, nbx)
            coef = coefs[by * pw + bx]
            k = ss
            if ah == 0:  # first pass for this band
                if eobrun > 0:
                    eobrun -= 1
                    continue
                while k <= se:
                    rs = self._decode_huff(reader, tbl)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:  # ZRL
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += reader.read_bits(r)
                        break
                    k += r
                    if k > se:
                        raise NotImplementedError("AC run past band end")
                    coef[zz[k]] = (
                        self._extend(reader.read_bits(s), s) << al
                    )
                    k += 1
                continue
            # refinement pass
            if eobrun == 0:
                while k <= se:
                    rs = self._decode_huff(reader, tbl)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r != 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += reader.read_bits(r)
                            break
                        newval = 0  # ZRL: 16 zero-history positions
                    elif s == 1:
                        newval = p1 if reader.read_bits(1) else m1
                    else:
                        raise NotImplementedError(
                            "AC refinement sends only magnitude-1 values"
                        )
                    # advance over r zero-HISTORY positions, applying
                    # a correction bit at every nonzero one passed
                    while k <= se:
                        z = zz[k]
                        if coef[z] != 0:
                            if reader.read_bits(1) and not (
                                coef[z] & p1
                            ):
                                coef[z] += p1 if coef[z] >= 0 else m1
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if k <= se and newval:
                        coef[zz[k]] = newval
                    k += 1
            if eobrun > 0:
                # correction bits for the remainder of the band, then
                # this block consumes one unit of the EOB run
                while k <= se:
                    z = zz[k]
                    if coef[z] != 0:
                        if reader.read_bits(1) and not (coef[z] & p1):
                            coef[z] += p1 if coef[z] >= 0 else m1
                    k += 1
                eobrun -= 1
        return self._skip_entropy(payload, reader.pos)


JPEG_DECODER = JpegImageCodec()


def _looks_jpeg(payload: bytes) -> bool:
    """Strict container sniff (the _looks_bmp contract): SOI followed
    by a marker lead-in. 0xFF is not a valid UTF-8 lead byte, so the
    fixtures' text-derived payloads can never route here."""
    return len(payload) >= 4 and payload[:3] == b"\xff\xd8\xff"
