"""Multimodal dedup front door: JVM-side routing agreement with the
python sniffs, per-modality pair agreement with the standalone
operators, exact-byte dedup for undecodable payloads, cluster labels,
and the codegen-router plan claim."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_exercise_spark.operators.audio import (
    MELODIES,
    audio_neardup_pairs,
    audio_spectral_fingerprint,
    melody_wav_bytes,
)
from flink_exercise_spark.operators.image_dedup import (
    bmp_encode_gray,
    image_phash,
    image_phash_pairs,
    phash_fixture_rasters,
    png_encode_gray,
)
from flink_exercise_spark.operators.mm_dedup import (
    modality_expr,
    multimodal_dup_clusters,
    multimodal_dup_pairs,
)
from flink_exercise_spark.operators.video_dedup import (
    VIDEO_MELODIES,
    gray_jpeg_frame,
    mjpeg_avi_bytes,
    video_landmarks,
    video_neardup_pairs,
)


@pytest.fixture(scope="module")
def mixed_corpus(spark):
    """Images (ids 0-9, the phash fixture), audio (ids 100-106, the
    melody fixture), text-ish bytes (ids 200-204, with 201 an exact
    byte copy of 200), and video (ids 400-406, the frame-melody
    fixture) in ONE relation."""
    rows = []
    for d, r in sorted(phash_fixture_rasters().items()):
        rows.append(
            (d, png_encode_gray(r) if d == 3 else bmp_encode_gray(r))
        )
    for d, (bins, amp) in sorted(MELODIES.items()):
        rows.append((100 + d, melody_wav_bytes(bins, amp)))
    texts = [b"alpha beta", b"alpha beta", b"gamma", b"delta", b"gamma"]
    for i, t in enumerate(texts):
        rows.append((200 + i, t))
    for d, (patterns, q, relevel) in sorted(VIDEO_MELODIES.items()):
        rows.append(
            (
                400 + d,
                mjpeg_avi_bytes(
                    [gray_jpeg_frame(p, q, relevel) for p in patterns]
                ),
            )
        )
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_router_agrees_with_python_sniffs(spark, mixed_corpus):
    from flink_exercise_spark.operators.multimodal import (
        _looks_avi,
        _looks_bmp,
        _looks_gif,
        _looks_jpeg,
        _looks_png,
        _looks_wav,
    )

    got = {
        r["doc_id"]: r["m"]
        for r in mixed_corpus.select(
            "doc_id", modality_expr().alias("m")
        ).collect()
    }
    for r in mixed_corpus.collect():
        p = bytes(r["payload"])
        if any(f(p) for f in (_looks_bmp, _looks_png, _looks_gif,
                              _looks_jpeg)):
            want = "image"
        elif _looks_wav(p):
            want = "audio"
        elif _looks_avi(p):
            want = "video"
        else:
            want = "other"
        assert got[r["doc_id"]] == want, r["doc_id"]


def test_pairs_agree_with_standalone_operators(spark, mixed_corpus):
    pairs = multimodal_dup_pairs(mixed_corpus, video_stride=1).collect()
    by_mod = {}
    for r in pairs:
        by_mod.setdefault(r["modality"], set()).add(
            (r["doc_a"], r["doc_b"], r["evidence"])
        )
    img_only = mixed_corpus.filter(F.col("doc_id") < 100)
    want_img = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in image_phash_pairs(image_phash(img_only)).collect()
    }
    assert by_mod["image"] == want_img and len(want_img) == 4
    aud_only = mixed_corpus.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 200)
    )
    want_aud = {
        (r["doc_a"], r["doc_b"], r["n_shared"])
        for r in audio_neardup_pairs(
            audio_spectral_fingerprint(aud_only)
        ).collect()
    }
    assert by_mod["audio"] == want_aud and len(want_aud) == 2
    vid_only = mixed_corpus.filter(F.col("doc_id") >= 400)
    want_vid = {
        (r["doc_a"], r["doc_b"], r["n_shared"])
        for r in video_neardup_pairs(
            video_landmarks(vid_only, stride=1)
        ).collect()
    }
    assert by_mod["video"] == want_vid and len(want_vid) == 2
    # exact byte dups among the undecodable payloads: 201 copies 200,
    # 204 copies 202 — pairs anchor on the canonical min id
    assert by_mod["other"] == {(200, 201, 0), (202, 204, 0)}


def test_clusters_label_within_modality(spark, mixed_corpus):
    got = {
        r["doc_id"]: (r["modality"], r["dup_group"])
        for r in multimodal_dup_clusters(
            mixed_corpus, video_stride=1
        ).collect()
    }
    # image pairs (0,1),(2,3),(4,5),(6,7); audio (100,101),(102,103);
    # other (200,201),(202,204); video (400,401),(402,403) — min-id
    # group labels, singletons absent
    want = {
        0: ("image", 0), 1: ("image", 0), 2: ("image", 2),
        3: ("image", 2), 4: ("image", 4), 5: ("image", 4),
        6: ("image", 6), 7: ("image", 6),
        100: ("audio", 100), 101: ("audio", 100),
        102: ("audio", 102), 103: ("audio", 102),
        200: ("other", 200), 201: ("other", 200),
        202: ("other", 202), 204: ("other", 202),
        400: ("video", 400), 401: ("video", 400),
        402: ("video", 402), 403: ("video", 402),
    }
    assert got == want


def test_router_is_codegen_no_python(spark, mixed_corpus):
    """The routing projection must stay JVM-side: no Python evaluation
    node in the routed scan (the kernels run only on each modality's
    filtered subset)."""
    plan = (
        mixed_corpus.select("doc_id", modality_expr().alias("m"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node


def test_loose_prefix_misroute_fails_loud(spark):
    """A payload whose magic matches but whose structure the codec
    rejects must raise the codec's own seam, never silently land in
    'other' — the valid/invalid-channel discipline."""
    fake_bmp = spark.createDataFrame(
        [(1, b"BMnot-actually-a-bitmap")], "doc_id long, payload binary"
    )
    assert (
        fake_bmp.select(modality_expr().alias("m")).collect()[0]["m"]
        == "image"
    )
    with pytest.raises(Exception, match="BMP|NotImplementedError"):
        multimodal_dup_pairs(fake_bmp).collect()


def test_exact_byte_floor_catches_short_identical_clips(spark):
    """Byte-identical audio/video clips too short to yield min_shared
    landmark runs must still be detected (code-review r12: r11 routed
    AVIs to the exact 'other' channel and caught them; the landmark
    channel alone would silently miss them) — and a byte-identical
    pair the landmark channel DOES prove is not double-reported."""
    from flink_exercise_spark.operators.audio import melody_wav_bytes

    short_vid = mjpeg_avi_bytes([gray_jpeg_frame(50), gray_jpeg_frame(51)])
    short_wav = melody_wav_bytes((30,), 9000)  # one window: one run
    long_vid = mjpeg_avi_bytes(
        [gray_jpeg_frame(60 + i) for i in range(6)]
    )
    corpus = spark.createDataFrame(
        [
            (0, short_vid), (1, short_vid),  # floor-only video pair
            (2, short_wav), (3, short_wav),  # floor-only audio pair
            (4, long_vid), (5, long_vid),  # landmark-proved identical
        ],
        "doc_id long, payload binary",
    )
    got = sorted(
        tuple(r)
        for r in multimodal_dup_pairs(corpus, video_stride=1).collect()
    )
    assert got == [
        (0, 1, "video", 0),
        (2, 3, "audio", 0),
        (4, 5, "video", 3),  # 3 shared runs, floor row anti-joined out
    ]


# --- multimodal benchmark decontamination (r13) ------------------------------


def _decontam_benchmark(spark):
    """Mixed benchmark set with one held-out item per modality plus a
    too-short-for-runs floor case, every expected flag hand-derivable:
    900 = the hyper raster (corpus 0's image; 1 is its brightness
    copy), 901 = corpus 100's melody re-leveled (runs are the literal
    4-note subsequences of MELODIES[0] -> all 3 shared), 902 = corpus
    200's frame melody transcoded (VIDEO_MELODIES[0] at the re-encode
    quant + re-level, the PROVEN hash invariances -> all 3 runs
    shared), 903 = the text payload planted twice in the corpus, and
    904 = a byte-identical copy of corpus 106's 4-note WAV — one run
    only, below min_shared, so ONLY the exact-byte floor can flag
    it."""
    from flink_exercise_spark.operators.audio import (
        MELODIES,
        melody_wav_bytes,
    )
    from flink_exercise_spark.operators.image_dedup import (
        bmp_encode_gray,
        phash_fixture_rasters,
    )
    from flink_exercise_spark.operators.video_dedup import (
        VIDEO_MELODIES,
        _Q_RE,
        gray_jpeg_frame,
        mjpeg_avi_bytes,
    )

    return spark.createDataFrame(
        [
            (900, bmp_encode_gray(phash_fixture_rasters()[0])),
            (901, melody_wav_bytes(MELODIES[0][0], 5000)),
            (
                902,
                mjpeg_avi_bytes(
                    [
                        gray_jpeg_frame(p, _Q_RE, True)
                        for p in VIDEO_MELODIES[0][0]
                    ]
                ),
            ),
            (903, b"gamma"),
            (904, melody_wav_bytes(MELODIES[6][0], MELODIES[6][1])),
        ],
        "doc_id long, payload binary",
    )
