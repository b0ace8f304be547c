"""Audio spectral fingerprinting + fingerprint-join dedup — the audio
modality's answer to MinHash-LSH: find re-encoded / re-leveled copies
of the same recording without comparing waveforms pairwise.

Pipeline (the industry constellation-map shape, Wang 2003 "An
Industrial-Strength Audio Search Algorithm", simplified to stdlib +
numpy):

1. ``audio_spectral_fingerprint``: per 16-bit PCM mono WAV payload,
   an Arrow kernel computes the rectangular-window STFT over the same
   1024-sample windows the RMS feature uses (numpy rfft — numpy is a
   baked-in dependency; no scipy/librosa in this container), reduces
   each window to its PEAK BIN (argmax of squared magnitude over the
   non-DC bins, first-max tie-break — amplitude-INVARIANT: scaling
   every sample scales every |X_k|^2 by the same factor, so re-leveled
   copies peak at the same bin), and hashes each run of
   ``FP_WINDOWS`` consecutive peak bins into one fingerprint string.
   Output: (doc_id, start_window, fp) — one row per landmark, the
   1->N mapInPandas fan-out shape of frame_sample.

2. ``audio_neardup_pairs``: doc pairs sharing >= ``min_shared``
   fingerprints, found by a fingerprint EQUI-JOIN (never an
   audio x audio comparison): group landmarks by fp, drop fps that
   occur in more than ``fp_cap`` docs (the classic too-common-hash
   cut — a hot fp is both uninformative and the join's N^2 bomb, the
   BUCKET_CAP discipline from dedup.py), self-join the survivors on
   fp with doc_a < doc_b, and count distinct shared fps per pair.

At 100 TB: the fingerprint relation is ~n_windows/FP_WINDOWS rows per
clip of a few dozen bytes each — orders smaller than the audio bytes,
which never shuffle; the pair join is fp-keyed with the cap making
per-fp fan-out O(fp_cap^2) worst case. Same contract as the text
near-dup family: banded/bucketed/capped, no all-pairs.

Non-WAV payloads raise through the documented real-decoder seam
(NotImplementedError) exactly like WavAudioCodec — callers filter on
the ``_looks_wav`` sniff, as the tests demonstrate; this module adds
no stub path because fingerprints exist to match CONTENT, which a
hash-derived stand-in cannot do.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.operators.multimodal import (
    WAV_DECODER,
    _looks_wav,
)
from flink_exercise_spark.registry import register
from flink_exercise_spark.sources.tables import spread

FP_WINDOWS = 4  # consecutive peak bins hashed into one fingerprint
FP_SCHEMA = "doc_id long, start_window int, fp string"
FP_CAP = 32  # drop fingerprints occurring in more docs (too common)


def peak_bins(payload: bytes, window: int | None = None) -> list[int]:
    """Per-window spectral peak bins of a 16-bit PCM mono WAV: argmax
    of ``|rfft(samples_w)|^2`` over bins 1..window//2 (DC excluded —
    it carries level offset, not pitch), numpy's first-max rule
    breaking exact ties toward the lower bin. The tail window zero-pads
    (rectangular), matching the RMS feature's window grid so the two
    features align row-for-row.

    Deterministic and amplitude-invariant by construction; pinned in
    tests against pure-sine fixtures whose peak bin is known exactly
    (a sine at f Hz peaks at round(f * window / rate))."""
    import numpy as np

    win = window or WAV_DECODER.window_samples
    w = WAV_DECODER._open(payload)
    try:
        raw = w.readframes(w.getnframes())
    finally:
        w.close()
    samples = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    if samples.size == 0:
        raise NotImplementedError(
            "real decoder required for empty audio streams"
        )
    n_win = -(-samples.size // win)
    padded = np.zeros(n_win * win)
    padded[: samples.size] = samples
    frames = padded.reshape(n_win, win)
    mag2 = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    return [int(b) for b in (np.argmax(mag2[:, 1:], axis=1) + 1)]


def fingerprints_of(bins: list[int], n: int = FP_WINDOWS) -> list[str]:
    """Landmark hashes: md5 of the dash-joined peak-bin run starting
    at each window (clips shorter than ``n`` windows hash the whole
    run once — a short clip still gets ONE fingerprint)."""
    if len(bins) <= n:
        runs = [bins]
    else:
        runs = [bins[i : i + n] for i in range(len(bins) - n + 1)]
    return [
        hashlib.md5("-".join(str(b) for b in run).encode()).hexdigest()
        for run in runs
    ]


def audio_spectral_fingerprint(
    with_payload: DataFrame, n: int = FP_WINDOWS
) -> DataFrame:
    """(doc_id, start_window, fp) landmark relation — the compact
    join key the audio bytes reduce to. One Arrow batch pass; the
    payload column never survives into the output."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, starts, fps = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                if not _looks_wav(p):
                    raise NotImplementedError(
                        "audio fingerprinting requires a WAV payload "
                        "(filter on the container sniff upstream)"
                    )
                for i, fp in enumerate(fingerprints_of(peak_bins(p), n)):
                    ids.append(doc_id)
                    starts.append(i)
                    fps.append(fp)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "start_window": pd.Series(starts, dtype="int32"),
                    "fp": fps,
                }
            )

    # spread()'s partition-count probe converts the plan to an RDD,
    # which streaming relations reject — and a micro-batch's partition
    # count is the source's concern anyway. Stateless kernel: it runs
    # unchanged on a stream (pinned stream == batch in tests).
    src = (
        with_payload
        if with_payload.isStreaming
        else spread(with_payload, "doc_id")
    )
    return src.mapInPandas(run, schema=FP_SCHEMA)


def audio_neardup_pairs(
    fps: DataFrame, min_shared: int = 2, fp_cap: int = FP_CAP
) -> DataFrame:
    """(doc_a, doc_b, n_shared) for pairs sharing >= ``min_shared``
    distinct fingerprints. fp-keyed equi-join only; fps seen in more
    than ``fp_cap`` docs are dropped first (uninformative + the N^2
    bomb), and the per-fp doc lists stay distinct so duplicate
    landmarks inside one clip can't inflate the count."""
    # count-then-anti-join cap (the dedup.py BUCKET_CAP idiom): a
    # collect_set here would materialize the hot fingerprint's full
    # doc list in ONE aggregation buffer — the memory bomb the cap
    # exists to avoid (code-review r10). The hot-fp relation is tiny
    # by definition, so it broadcasts. The distinct landmark relation
    # feeds THREE subtrees (the hot-fp aggregate and both self-join
    # sides); unpersisted, each would re-run the upstream FFT kernel
    # over the audio bytes (r11).
    from flink_exercise_spark.caching import persist_tracked

    fps_d = persist_tracked(fps.select("fp", "doc_id").distinct())
    hot = (
        fps_d.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > fp_cap)
        .select("fp")
    )
    capped = fps_d.join(F.broadcast(hot), "fp", "left_anti")
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.countDistinct("a.fp").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --- deterministic fixture corpus (the registered query's domain) ---
#
# Window-aligned pure-tone melodies make the whole derivation
# HAND-COMPUTABLE: a sine at bin-centered frequency k * rate / window
# puts all its energy in bin k, so each 1024-sample note's peak bin
# IS its bin number (the test_audio.py pin), the landmark runs are
# the literal 4-note subsequences, and the shared-fingerprint counts
# fall out by inspecting the melodies — the clf_golden_log precedent
# for driver-gating a result no SQL engine can restate.

MELODIES: dict[int, tuple[tuple[int, ...], int]] = {
    # doc_id: (peak-bin melody, amplitude)
    0: ((10, 20, 30, 40, 50, 60), 12000),
    1: ((10, 20, 30, 40, 50, 60), 3600),  # re-leveled copy of 0
    2: ((15, 25, 35, 45, 55, 65), 12000),
    3: ((15, 25, 35, 45, 55, 70), 9000),  # last note changed
    4: ((12, 22, 32, 42, 52, 62), 12000),  # singleton
    5: ((65, 55, 45, 35, 25, 15), 12000),  # doc 2 reversed: no runs shared
    6: ((15, 25, 35, 45), 12000),  # 1 run only: below min_shared
}
# Expected pairs at min_shared=2 (runs of FP_WINDOWS=4 consecutive
# bins; a 6-note melody has 3 runs):
#   (0, 1): all 3 runs shared (bins identical, amplitude-invariant)
#   (2, 3): runs (15,25,35,45) and (25,35,45,55) shared -> 2
#   doc 6 shares exactly ONE run with docs 2 and 3 -> filtered out.


def melody_wav_bytes(
    bins: tuple[int, ...], amp: int, window: int | None = None,
    rate: int = 8000,
) -> bytes:
    """16-bit PCM mono WAV: one ``window``-sample pure sine per note,
    note n's frequency bin-centered at ``bins[n]`` (an integer number
    of cycles per window, so the rectangular-window rfft is exact)."""
    import io
    import math
    import struct
    import wave

    win = window or WAV_DECODER.window_samples
    frames = bytearray()
    for k in bins:
        for n in range(win):
            v = int(round(amp * math.sin(2 * math.pi * k * n / win)))
            frames += struct.pack("<h", v)
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    try:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(bytes(frames))
    finally:
        w.close()
    return buf.getvalue()


def melody_fixture_corpus(spark) -> DataFrame:
    return spark.createDataFrame(
        [
            (doc_id, melody_wav_bytes(bins, amp))
            for doc_id, (bins, amp) in sorted(MELODIES.items())
        ],
        "doc_id long, payload binary",
    )


@register(
    "audio_neardup_pairs",
    # Pin: tests/test_audio.py pure-python re-derivation of the
    # frozen VALUES oracle.
    # VALUES oracle: hand-derived from the MELODIES table above (the
    # landmark runs are literal 4-note subsequences; see the expected-
    # pairs comment) and independently re-derived by the pure-python
    # reference in tests/test_audio.py — which also pins that every
    # synthesized note's peak bin equals its melody bin exactly.
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(2 AS BIGINT))
    ) AS t(doc_a, doc_b, n_shared)
    """,
    doc="Audio near-dup dedup: spectral peak-bin landmarks over REAL "
        "WAV decode, fingerprint equi-join with hot-fp cap — the "
        "re-leveled copy and the one-note edit detected, the reversed "
        "melody and the single-shared-run clip correctly excluded",
    tags=("multimodal", "dedup", "audio"),
)
def q_audio_neardup_pairs(spark, sf_dir):
    pairs = audio_neardup_pairs(
        audio_spectral_fingerprint(melody_fixture_corpus(spark))
    )
    return pairs.select(
        "doc_a", "doc_b", F.col("n_shared").cast("long").alias("n_shared")
    )
