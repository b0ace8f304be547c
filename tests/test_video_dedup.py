"""Video near-dup dedup: analytic transcode invariances (re-encode
byte-equal planes, re-level exact +8 shift), fixture health guards
(margin, clipping, hash distinctness), a pure-python set re-derivation
of the registered pairs, seams, the no-cartesian plan claim, and
stream == batch for the landmark kernel."""

from __future__ import annotations

import numpy as np
import pytest

from flink_exercise_spark.operators.image_dedup import (
    luma_plane_any,
    phash64,
    phash_margin,
)
from flink_exercise_spark.operators.video_dedup import (
    FP_FRAMES,
    VIDEO_MELODIES,
    frame_phashes_of,
    gray_jpeg_frame,
    mjpeg_avi_bytes,
    q_video_neardup_pairs,
    video_fixture_corpus,
    video_landmarks,
    video_neardup_pairs,
)

ALL_PATTERNS = sorted(
    {p for pats, _, _ in VIDEO_MELODIES.values() for p in pats}
)


def test_reencode_decodes_to_identical_plane():
    """q=4 with doubled quantized coefficients is a true transcode of
    q=8: every payload byte differs, no decoded pixel does — so the
    frame pHash is EXACTLY equal, not approximately."""
    for p in ALL_PATTERNS:
        base_bytes = gray_jpeg_frame(p)
        re_bytes = gray_jpeg_frame(p, 4, False)
        assert base_bytes != re_bytes
        base = luma_plane_any(base_bytes)
        assert np.array_equal(base, luma_plane_any(re_bytes))
        assert phash64(base) == phash64(luma_plane_any(re_bytes))


def test_relevel_shifts_every_pixel_by_exactly_8():
    """The +64 dequantized DC boost adds exactly +8.0 to every
    pre-rounding IDCT value (orthonormal flat basis, 64/8); +8 is even
    so round-half-even shifts every pixel by exactly 8 — provided no
    pixel clips, which the range guard below enforces."""
    for p in ALL_PATTERNS:
        base = luma_plane_any(gray_jpeg_frame(p))
        lvl = luma_plane_any(gray_jpeg_frame(p, 8, True))
        assert np.array_equal(lvl, base + 8.0)
        assert phash64(base) == phash64(lvl)


def test_fixture_health_margin_range_distinctness():
    """Three guards that keep the frozen VALUES oracle from ever
    drifting: (a) every frame's closest hash bit sits > 0.02 from its
    median (the image_dedup guard — float noise is ~1e-12); (b) the
    plane stays inside [1, 246] so the +8 re-level cannot clip; (c)
    distinct patterns hash distinctly, so melodies share runs only by
    design."""
    hashes = {}
    for p in ALL_PATTERNS:
        for q, relevel in ((8, False), (4, True)):
            plane = luma_plane_any(gray_jpeg_frame(p, q, relevel))
            assert phash_margin(plane) > 0.02, (p, q, relevel)
            assert plane.min() >= 1 and plane.max() <= 246, (p, q, relevel)
        hashes[p] = phash64(luma_plane_any(gray_jpeg_frame(p)))
    assert len(set(hashes.values())) == len(ALL_PATTERNS)


def _python_pairs(min_shared: int = 2) -> set[tuple[int, int, int]]:
    """Pure-python re-derivation: per-doc landmark runs as python
    sets, pairwise intersection counts — no Spark, no md5 fingerprint
    (the raw hash tuples ARE the runs)."""
    runs: dict[int, set[tuple[int, ...]]] = {}
    for doc_id, (patterns, q, relevel) in VIDEO_MELODIES.items():
        hashes = frame_phashes_of(
            mjpeg_avi_bytes(
                [gray_jpeg_frame(p, q, relevel) for p in patterns]
            ),
            stride=1,
        )
        n = FP_FRAMES
        if len(hashes) <= n:
            doc_runs = {tuple(hashes)}
        else:
            doc_runs = {
                tuple(hashes[i : i + n])
                for i in range(len(hashes) - n + 1)
            }
        runs[doc_id] = doc_runs
    out = set()
    ids = sorted(runs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shared = len(runs[a] & runs[b])
            if shared >= min_shared:
                out.add((a, b, shared))
    return out


def test_registered_query_matches_hand_derivation(spark):
    """The driver-gated VALUES oracle, re-derived two independent
    ways: the hand derivation in the VIDEO_MELODIES comment and the
    pure-python set computation above."""
    got = {
        (r["doc_a"], r["doc_b"], r["n_shared"])
        for r in q_video_neardup_pairs(spark, "").collect()
    }
    assert got == {(0, 1, 3), (2, 3, 2)}
    assert got == _python_pairs()


def test_non_avi_payload_hits_the_seam(spark):
    df = spark.createDataFrame(
        [(1, b"definitely not a video container")],
        "doc_id long, payload binary",
    )
    with pytest.raises(Exception, match="AVI payload"):
        video_landmarks(df).collect()


def test_non_mjpeg_frame_codec_hits_the_seam(spark):
    """An AVI whose frame chunks are not JPEG must raise the codec
    seam, never hash garbage."""
    avi = mjpeg_avi_bytes([b"\x00\x01raw-dib-frame-bytes\x02"] * 2)
    df = spark.createDataFrame(
        [(1, avi)], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="non-MJPEG"):
        video_landmarks(df, stride=1).collect()


def test_plan_no_cartesian(spark):
    plan = (
        video_neardup_pairs(
            video_landmarks(video_fixture_corpus(spark), stride=1)
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_landmarks_stream_equals_batch(spark, tmp_path):
    """The landmark kernel is a stateless mapInPandas projection, so
    it runs unchanged on a streaming relation: landmarks from a file
    stream must equal the batch operator's row for row."""
    from flink_exercise_spark.streaming.jobs import run_to_memory

    path = str(tmp_path / "video_parquet")
    corpus = video_fixture_corpus(spark)
    corpus.write.parquet(path)
    stream = (
        spark.readStream.schema("doc_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    run_to_memory(
        video_landmarks(stream, stride=1),
        "video_landmarks_stream",
        "append",
    )
    got = sorted(
        tuple(r) for r in spark.table("video_landmarks_stream").collect()
    )
    want = sorted(
        tuple(r) for r in video_landmarks(corpus, stride=1).collect()
    )
    assert got == want and len(got) > 0


def test_checked_in_sample_mjpeg_avi_decodes_end_to_end(spark):
    """The checked-in sample_mjpeg.avi runs through the full landmark
    pipeline (the sample.bmp/sample.wav real-file convention — the
    older sample.avi is a header-only PROBER fixture with no movi
    frames, so this file carries the demux+decode path). A re-muxed
    copy (same frame bytes, rebuilt container) is detected as a full
    duplicate of the original: all 3 runs of its 6 frames shared."""
    import os

    from flink_exercise_spark.operators.multimodal import AVI_PROBER

    data = os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        ),
        "flink_exercise_spark",
        "data",
        "sample_mjpeg.avi",
    )
    with open(data, "rb") as f:
        payload = f.read()
    frames = AVI_PROBER.frames(payload)
    assert len(frames) == 6
    remux = mjpeg_avi_bytes(frames, usec_per_frame=20_000)
    assert remux != payload
    df = spark.createDataFrame(
        [(0, payload), (1, remux)], "doc_id long, payload binary"
    )
    pairs = video_neardup_pairs(
        video_landmarks(df, stride=1)
    ).collect()
    assert [
        (r["doc_a"], r["doc_b"], r["n_shared"]) for r in pairs
    ] == [(0, 1, 3)]
