"""Multimodal dedup front door — ONE pass over a mixed binary corpus
that routes every payload to its modality's near-dup pipeline and
returns unified verdicts (r11; composes the dedup matrix the image
operator completed):

- images (BMP/PNG/GIF/JPEG)  -> DCT perceptual-hash band pairing
                                (operators/image_dedup.py)
- audio (16-bit PCM WAV)     -> spectral-fingerprint equi-join pairing
                                (operators/audio.py)
- video (RIFF/AVI MJPEG)     -> per-sampled-frame pHash landmark runs
                                (operators/video_dedup.py, r12 — the
                                fourth modality)
- everything else            -> exact content dedup on the raw bytes
                                (md5 group-by; binary payloads without
                                a real decoder can still be deduped
                                exactly, never "near")

Routing is JVM-SIDE: ``modality_expr`` re-states the python container
sniffs (_looks_bmp/_looks_png/_looks_gif/_looks_jpeg/_looks_wav/
_looks_avi) as pure Column prefix checks over the binary column — zero Python in the
router, so the full corpus scan stays in codegen and only each
modality's subset crosses into its Arrow kernel. The prefix checks are
deliberately the LOOSE superset of the python sniffs (magic bytes
only, no structural walk): a payload the prefix accepts but the codec
rejects raises the codec's own loud seam, never a silent misroute to
the wrong pipeline — the valid/invalid-channel discipline.

Output: ``multimodal_dup_pairs`` = (doc_a, doc_b, modality, evidence)
with evidence = hamming distance (image), shared-fingerprint count
(audio), shared-landmark-run count (video), or 0 (exact byte
duplicates — both the 'other' channel and the exact-byte FLOOR that
catches byte-identical audio/video clips too short for min_shared
landmark runs); modalities partition the doc
set, so pairs never cross modalities and ``multimodal_dup_clusters``
(connected components over the union) labels each duplicate group
with its min doc_id per modality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.caching import persist_tracked
from flink_exercise_spark.operators.audio import (
    audio_neardup_pairs,
    audio_spectral_fingerprint,
)
from flink_exercise_spark.operators.image_dedup import (
    image_phash,
    image_phash_pairs,
)
from flink_exercise_spark.operators.video_dedup import (
    video_landmarks,
    video_neardup_pairs,
)
from flink_exercise_spark.registry import register


def _prefix(col: Column, off: int, lit: bytes) -> Column:
    # substring on BINARY returns binary; the literal is binary too,
    # so the comparison stays byte-exact inside codegen
    return F.substring(col, off, len(lit)) == F.lit(bytearray(lit))


def modality_expr(col: str = "payload") -> Column:
    """'image' | 'audio' | 'video' | 'other' from magic-byte prefixes
    — the codegen router. BMP 'BM', PNG signature, GIF 'GIF8', JPEG
    FF D8 FF, WAV 'RIFF....WAVE', AVI 'RIFF....AVI '."""
    c = F.col(col)
    is_image = (
        _prefix(c, 1, b"BM")
        | _prefix(c, 1, b"\x89PNG\r\n\x1a\n")
        | _prefix(c, 1, b"GIF8")
        | _prefix(c, 1, b"\xff\xd8\xff")
    )
    is_audio = _prefix(c, 1, b"RIFF") & _prefix(c, 9, b"WAVE")
    is_video = _prefix(c, 1, b"RIFF") & _prefix(c, 9, b"AVI ")
    return (
        F.when(is_image, F.lit("image"))
        .when(is_audio, F.lit("audio"))
        .when(is_video, F.lit("video"))
        .otherwise(F.lit("other"))
    )


def multimodal_dup_pairs(
    with_payload: DataFrame,
    image_max_distance: int | None = None,
    audio_min_shared: int = 2,
    video_min_shared: int = 2,
    video_stride: int | None = None,
    image_band_cap: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, modality, evidence) near/exact-duplicate pairs
    across the mixed corpus — one routed pass, each modality's bytes
    touching only its own kernel.

    ``image_band_cap`` pins the pHash banding's per-band candidate cap
    instead of the adaptive default (which sizes itself to the image
    count with a synchronous probe job). CAVEAT (ADVICE r13, mirroring
    image_phash_pairs' warning): a FIXED cap on a >2048-image corpus
    reintroduces the recall-saturation failure the adaptive default
    was added to fix (measured recall 0.50 at 20k docs, r11) — pin it
    only when the image count is known to sit under the adaptive
    formula's floor (``max(BAND_CAP, 8*ceil(n/256))`` == BAND_CAP up
    to 2048 images), as the registered fixture query does."""
    # NOT persisted: caching this relation would materialize every
    # payload byte of the corpus into executor storage to save only a
    # handful of codegen prefix comparisons per re-scan (code-review
    # r11) — the four modality filters each re-scan the source with
    # their predicate pushed; the compact per-modality FEATURE
    # relations are what get persisted below
    routed = with_payload.select(
        "doc_id", "payload", modality_expr().alias("modality")
    )
    img_kwargs = (
        {} if image_max_distance is None
        else {"max_distance": image_max_distance}
    )
    if image_band_cap is not None:
        img_kwargs["band_cap"] = image_band_cap
    # persist the hash relation: the adaptive band cap's load probe
    # (count) and the banded pairing both consume it — unpersisted,
    # each would re-run the decode+DCT kernel over the image bytes
    image_pairs = image_phash_pairs(
        persist_tracked(
            image_phash(routed.filter(F.col("modality") == "image"))
        ),
        **img_kwargs,
    ).select(
        "doc_a",
        "doc_b",
        F.lit("image").alias("modality"),
        F.col("hamming").cast("long").alias("evidence"),
    )
    audio_pairs = audio_neardup_pairs(
        audio_spectral_fingerprint(
            routed.filter(F.col("modality") == "audio")
        ),
        min_shared=audio_min_shared,
    ).select(
        "doc_a",
        "doc_b",
        F.lit("audio").alias("modality"),
        F.col("n_shared").cast("long").alias("evidence"),
    )
    vid_kwargs = {} if video_stride is None else {"stride": video_stride}
    video_pairs = video_neardup_pairs(
        video_landmarks(
            routed.filter(F.col("modality") == "video"), **vid_kwargs
        ),
        min_shared=video_min_shared,
    ).select(
        "doc_a",
        "doc_b",
        F.lit("video").alias("modality"),
        F.col("n_shared").cast("long").alias("evidence"),
    )
    # exact byte dedup for undecodable payloads: md5 group-by, pairs
    # against the group's canonical (min id) — group-sized output, not
    # group-squared (the exact_dedup_map shape); the narrow hash
    # relation persists so the canonical aggregate and the join probe
    # don't each re-hash the payload bytes
    other = persist_tracked(
        routed.filter(F.col("modality") == "other").select(
            "doc_id", F.md5("payload").alias("_h")
        )
    )
    canon = other.groupBy("_h").agg(F.min("doc_id").alias("doc_a"))
    other_pairs = (
        other.join(canon, "_h")
        .filter(F.col("doc_id") != F.col("doc_a"))
        .select(
            "doc_a",
            F.col("doc_id").alias("doc_b"),
            F.lit("other").alias("modality"),
            F.lit(0).cast("long").alias("evidence"),
        )
    )
    landmark_pairs = audio_pairs.unionByName(video_pairs)
    # exact-byte FLOOR for the landmark modalities (code-review r12):
    # a byte-identical clip too short to yield min_shared landmark
    # runs — any AVI under stride*(FP_FRAMES+1) frames, any WAV at or
    # under FP_WINDOWS windows — would otherwise be silently MISSED,
    # a detection r11 had (AVIs routed to 'other' then). Exactness is
    # free: one codegen md5 over the two modalities' payloads, pairs
    # anchored at the canonical min id (evidence 0 = exact, the
    # 'other' convention), and pairs the landmark channel already
    # proved drop out via the anti-join so nothing is double-reported.
    av = persist_tracked(
        routed.filter(F.col("modality").isin("audio", "video")).select(
            "doc_id", "modality", F.md5("payload").alias("_h")
        )
    )
    av_canon = av.groupBy("_h", "modality").agg(
        F.min("doc_id").alias("doc_a")
    )
    av_floor = (
        av.join(av_canon, ["_h", "modality"])
        .filter(F.col("doc_id") != F.col("doc_a"))
        .select(
            "doc_a",
            F.col("doc_id").alias("doc_b"),
            "modality",
            F.lit(0).cast("long").alias("evidence"),
        )
        .join(
            landmark_pairs.select("doc_a", "doc_b"),
            ["doc_a", "doc_b"],
            "left_anti",
        )
    )
    return (
        image_pairs.unionByName(landmark_pairs)
        .unionByName(av_floor)
        .unionByName(other_pairs)
    )


def multimodal_dup_clusters(
    with_payload: DataFrame, **pair_kwargs
) -> DataFrame:
    """(doc_id, modality, dup_group): connected components over the
    routed pairs — the keep-one-representative decision for a mixed
    corpus. Modalities partition the docs, so components never span
    modalities; docs in no pair are absent (singletons need no
    decision)."""
    from flink_exercise_spark.operators.dedup import connected_components

    pairs = persist_tracked(
        multimodal_dup_pairs(with_payload, **pair_kwargs)
    )
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    modality = pairs.select(
        F.col("doc_a").alias("doc_id"), "modality"
    ).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"), "modality")
    ).distinct()
    return comp.join(modality, "doc_id").select(
        "doc_id", "modality", F.col("cluster_id").alias("dup_group")
    )


# --- registered fixture corpus (the front door's driver-gated domain) ---


def mm_fixture_corpus(spark) -> DataFrame:
    """ALL FOUR modalities in one relation: the image pHash fixture
    (ids 0-9, BMP + one PNG re-encode), the audio melody fixture
    shifted to ids 100+, the video frame-melody fixture shifted to ids
    200+, and undecodable text payloads at ids 300+ with two exact
    byte copies. Each block reuses its per-modality fixture generator
    verbatim, so the oracle below is the literal union of the two
    already-frozen per-modality VALUES oracles, the video oracle, and
    the md5-equality pairs."""
    from flink_exercise_spark.operators.audio import (
        MELODIES,
        melody_wav_bytes,
    )
    from flink_exercise_spark.operators.image_dedup import (
        bmp_encode_gray,
        phash_fixture_rasters,
        png_encode_gray,
    )
    from flink_exercise_spark.operators.video_dedup import (
        VIDEO_MELODIES,
        gray_jpeg_frame,
        mjpeg_avi_bytes,
    )

    rows = []
    for d, r in sorted(phash_fixture_rasters().items()):
        rows.append((d, png_encode_gray(r) if d == 3 else bmp_encode_gray(r)))
    for d, (bins, amp) in sorted(MELODIES.items()):
        rows.append((100 + d, melody_wav_bytes(bins, amp)))
    for d, (patterns, q, relevel) in sorted(VIDEO_MELODIES.items()):
        rows.append(
            (
                200 + d,
                mjpeg_avi_bytes(
                    [gray_jpeg_frame(p, q, relevel) for p in patterns]
                ),
            )
        )
    texts = [b"alpha beta", b"alpha beta", b"gamma", b"delta", b"gamma"]
    for i, t in enumerate(texts):
        rows.append((300 + i, t))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


@register(
    "mm_dedup_front_door",
    # VALUES oracle: the union of the frozen per-modality oracles —
    # mm_image_phash_pairs' four Hamming pairs, audio_neardup_pairs'
    # and video_neardup_pairs' hand-derived run counts (id-shifted by
    # the fixture's +100/+200 blocks), plus the exact-byte md5 pairs
    # readable off the text list above. Modalities partition the doc
    # set, so the union IS the front door's full answer.
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(1 AS BIGINT), 'image', CAST(0 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(3 AS BIGINT), 'image', CAST(0 AS BIGINT)),
      (CAST(4 AS BIGINT), CAST(5 AS BIGINT), 'image', CAST(2 AS BIGINT)),
      (CAST(6 AS BIGINT), CAST(7 AS BIGINT), 'image', CAST(0 AS BIGINT)),
      (CAST(100 AS BIGINT), CAST(101 AS BIGINT), 'audio', CAST(3 AS BIGINT)),
      (CAST(102 AS BIGINT), CAST(103 AS BIGINT), 'audio', CAST(2 AS BIGINT)),
      (CAST(200 AS BIGINT), CAST(201 AS BIGINT), 'video', CAST(3 AS BIGINT)),
      (CAST(202 AS BIGINT), CAST(203 AS BIGINT), 'video', CAST(2 AS BIGINT)),
      (CAST(300 AS BIGINT), CAST(301 AS BIGINT), 'other', CAST(0 AS BIGINT)),
      (CAST(302 AS BIGINT), CAST(304 AS BIGINT), 'other', CAST(0 AS BIGINT))
    ) AS t(doc_a, doc_b, modality, evidence)
    """,
    doc="Multimodal dedup front door: ONE codegen-routed pass over a "
        "mixed image/audio/video/text corpus — per-modality near-dup "
        "pipelines plus exact byte dedup, unified verdicts",
    tags=("multimodal", "dedup"),
)
def q_mm_dedup_front_door(spark, sf_dir):
    from flink_exercise_spark.operators.image_dedup import BAND_CAP

    # explicit image band cap (r13 optimization): the adaptive
    # default's count() load probe is a synchronous extra job at
    # plan-build time, and on the fixed 27-doc corpus the adaptive
    # formula max(BAND_CAP, 8*ceil(n/256)) == BAND_CAP anyway (it
    # exceeds the floor only past 2048 images) — the same reasoning
    # q_image_phash_pairs documents; identical pairs, one fewer job.
    pairs = multimodal_dup_pairs(
        mm_fixture_corpus(spark), video_stride=1, image_band_cap=BAND_CAP
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "modality",
        F.col("evidence").cast("long").alias("evidence"),
    )
