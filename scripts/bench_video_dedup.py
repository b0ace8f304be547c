"""Scaling record for video near-dup dedup (r12): landmark-extraction
throughput through the REAL AVI demux + JPEG decode + DCT pHash
kernel, and the fp equi-join pairing on a corpus with planted
transcoded duplicates.

Fixture: N synthetic MJPEG AVIs generated DISTRIBUTED (mapInPandas
over spark.range; the driver holds nothing) — each video carries
FRAMES single-block 8x8 gray JPEG frames with dense md5-mixed AC
spectra (the video_dedup fixture machinery, unique pattern ids per
(video, frame)); every DUP_EVERY-th video is a RE-ENCODED (q=4,
doubled coefficients) AND re-leveled (+8 luma) transcode of its
predecessor — every payload byte differs, no frame pHash does — so
expected pairs are known by construction: floor(N / DUP_EVERY) pairs,
each (doc, doc+1) sharing all FRAMES-FP_FRAMES+1 landmark runs.

Usage:
  SPARK_GRAFT_DRIVER_MEM=64g python scripts/bench_video_dedup.py
  SPARK_GRAFT_VID_N=10000   # corpus size (default)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

N = int(os.environ.get("SPARK_GRAFT_VID_N", "10000"))
DUP_EVERY = 4  # every 4th video transcodes its predecessor
FRAMES = 8


def main() -> None:
    from flink_exercise_spark.caching import release_persisted
    from flink_exercise_spark.operators.video_dedup import (
        FP_FRAMES,
        video_landmarks,
        video_neardup_pairs,
    )
    from flink_exercise_spark.session import get_spark, local_cores

    spark = get_spark(
        app_name="bench-video-dedup",
        master=f"local[{local_cores()}]",
        conf={
            "spark.sql.shuffle.partitions": os.environ.get(
                "SPARK_GRAFT_SHUFFLE", "64"
            ),
            "spark.sql.adaptive.enabled": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    def gen(batches):
        import pandas as pd

        from flink_exercise_spark.operators.video_dedup import (
            gray_jpeg_frame,
            mjpeg_avi_bytes,
        )

        def video(doc: int, q: int = 8, relevel: bool = False) -> bytes:
            # pattern ids unique per (video, frame): the md5 mixing in
            # gray_jpeg_frame decorrelates coefficient streams, so
            # distinct videos share no frame hashes by construction
            return mjpeg_avi_bytes(
                [
                    gray_jpeg_frame(doc * FRAMES + i, q, relevel)
                    for i in range(FRAMES)
                ]
            )

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["id"]:
                d = int(doc_id)
                if d % DUP_EVERY == DUP_EVERY - 1:
                    # transcoded duplicate of the predecessor: new
                    # quant table AND brightness level, same pixels
                    # modulo the provable +8 shift
                    p = video(d - 1, q=4, relevel=True)
                else:
                    p = video(d)
                ids.append(d)
                payloads.append(p)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    corpus = (
        spark.range(0, N)
        .repartition(local_cores())
        .mapInPandas(gen, "doc_id long, payload binary")
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fixture = os.path.join(repo, ".localdata", "video_dedup_bench")
    corpus.write.mode("overwrite").parquet(fixture)
    corpus = spark.read.parquet(fixture)

    rec: dict[str, object] = {
        "n_videos": N,
        "frames_per_video": FRAMES,
        "n_frames": N * FRAMES,
    }

    t0 = time.perf_counter()
    landmarks = video_landmarks(corpus, stride=1)
    landmarks.write.mode("overwrite").parquet(f"{fixture}_fps")
    rec["landmarks_sec"] = round(time.perf_counter() - t0, 3)
    rec["videos_per_sec"] = round(N / rec["landmarks_sec"], 1)
    rec["frames_per_sec"] = round(N * FRAMES / rec["landmarks_sec"], 1)
    release_persisted()
    spark.catalog.clearCache()

    landmarks = spark.read.parquet(f"{fixture}_fps")
    t0 = time.perf_counter()
    pairs = video_neardup_pairs(landmarks).collect()
    rec["pairs_sec"] = round(time.perf_counter() - t0, 3)
    rec["n_pairs"] = len(pairs)
    planted = {
        (d - 1, d) for d in range(N) if d % DUP_EVERY == DUP_EVERY - 1
    }
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    rec["planted_pairs"] = len(planted)
    rec["planted_recall"] = round(len(found & planted) / len(planted), 4)
    rec["extra_pairs"] = len(found - planted)
    # Unlike the hand-built fixture (margin-guarded per pattern), a
    # random-spectrum corpus includes frames whose closest hash bit
    # sits at float-noise distance from the median, so the +8 re-level
    # occasionally flips ONE frame's hash; each flip costs up to
    # FP_FRAMES runs, and the landmark redundancy (FRAMES-FP_FRAMES+1
    # runs per video) absorbs it — record the worst case instead of
    # asserting the ideal.
    shared = [
        r["n_shared"] for r in pairs
        if (r["doc_a"], r["doc_b"]) in planted
    ]
    rec["runs_per_video"] = FRAMES - FP_FRAMES + 1
    rec["min_shared_planted"] = min(shared) if shared else 0
    rec["full_share_planted_frac"] = round(
        sum(1 for s in shared if s == rec["runs_per_video"])
        / max(len(shared), 1),
        4,
    )
    plan = (
        video_neardup_pairs(landmarks)
        ._jdf.queryExecution().executedPlan().toString()
    )
    rec["no_cartesian"] = (
        "CartesianProduct" not in plan
        and "BroadcastNestedLoopJoin" not in plan
    )
    spark.stop()
    print(json.dumps({"bench": "video_dedup", "rec": rec}))


if __name__ == "__main__":
    main()
