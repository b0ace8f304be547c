"""Scaling record for the multimodal dedup front door (VERDICT r12
ask #3): every per-modality pipeline has its own decade record (100k
images, 50k videos), but the routed COMPOSITION — one pass over a
mixed corpus with all four modality caches live — had only the 27-doc
fixture. This measures the three open questions at 10-50k:

1. Router overhead: the codegen prefix scan that classifies every
   payload (measured standalone as one routed groupBy count).
2. The exact-byte floor's SECOND payload scan (mm_dedup.py: a codegen
   md5 over every audio/video payload after the landmark kernels
   already read them) — measured standalone so its share of the
   end-to-end time is a number, not a guess, and the fold-into-the-
   kernels decision can be made on evidence.
3. Persist pressure with all four modality feature caches live
   (RDD storage info captured at the peak, before release).

Corpus: N_IMG + N_AUD + N_VID + N_OTH docs generated DISTRIBUTED
(mapInPandas over spark.range), reusing each modality's bench
generator conventions: random low-frequency BMP rasters (the
bench_image_dedup family), random 6-note bin-centered melodies as
16-bit PCM WAV (vectorized synth), 8-frame dense-spectrum MJPEG AVIs
(the bench_video_dedup family), and text bytes. Every DUP_EVERY-th
doc within a modality block is a planted duplicate of its
predecessor (brightness-shifted image, re-leveled audio, transcoded
video, byte-identical text), so planted recall and false-pair counts
are known by construction per modality.

Usage:
  SPARK_GRAFT_DRIVER_MEM=64g python scripts/bench_mm_front_door.py
  SPARK_GRAFT_MM_SCALE=1.0   # multiplies all four block sizes
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

SCALE = float(os.environ.get("SPARK_GRAFT_MM_SCALE", "1.0"))
N_IMG = int(20000 * SCALE)
N_AUD = int(12000 * SCALE)
N_VID = int(5000 * SCALE)
N_OTH = int(13000 * SCALE)
DUP_EVERY = 4
FRAMES = 8
AUD_BASE = 1_000_000
VID_BASE = 2_000_000
OTH_BASE = 3_000_000
# each modality block owns a 1M doc-id range; an overscaled block
# would silently collide with the next one and corrupt every planted
# metric — fail loud instead (code-review r13)
for _n, _base in ((N_IMG, AUD_BASE), (N_AUD, VID_BASE - AUD_BASE),
                  (N_VID, OTH_BASE - VID_BASE), (N_OTH, 1_000_000)):
    assert _n <= _base, (
        f"block size {_n} exceeds its 1M doc-id range — lower "
        f"SPARK_GRAFT_MM_SCALE (max ~50) or widen the id bases"
    )


def main() -> None:
    from pyspark.sql import functions as F

    from flink_exercise_spark.caching import release_persisted
    from flink_exercise_spark.operators.mm_dedup import (
        modality_expr,
        multimodal_dup_pairs,
    )
    from flink_exercise_spark.operators.video_dedup import FP_FRAMES
    from flink_exercise_spark.session import get_spark, local_cores

    cpus = local_cores()
    spark = get_spark(
        app_name="bench-mm-front-door",
        master=f"local[{cpus}]",
        conf={
            "spark.sql.shuffle.partitions": os.environ.get(
                "SPARK_GRAFT_SHUFFLE", "64"
            ),
            "spark.sql.adaptive.enabled": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    def gen_images(batches):
        import numpy as np
        import pandas as pd

        from flink_exercise_spark.operators.image_dedup import (
            bmp_encode_gray,
        )

        H, W = 45, 60
        ky = np.cos(
            (2 * np.arange(H)[:, None] + 1)
            * np.arange(10)[None, :] * np.pi / (2 * H)
        )
        kx = np.cos(
            (2 * np.arange(W)[:, None] + 1)
            * np.arange(10)[None, :] * np.pi / (2 * W)
        )

        def raster(seed: int):
            rng = np.random.RandomState(seed % (2**31 - 1))
            C = rng.uniform(-1.0, 1.0, (10, 10))
            raw = ky @ C @ kx.T
            lo, hi = raw.min(), raw.max()
            img = 25 + np.rint((raw - lo) / (hi - lo) * 194)
            return img.astype(np.int64).tolist()

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["id"]:
                d = int(doc_id)
                if d % DUP_EVERY == DUP_EVERY - 1:
                    base = raster(d - 1)
                    r = [[v + 14 for v in row] for row in base]
                else:
                    r = raster(d)
                ids.append(d)
                payloads.append(bmp_encode_gray(r))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    def gen_audio(batches):
        import io
        import wave

        import numpy as np
        import pandas as pd

        from flink_exercise_spark.operators.audio import WAV_DECODER

        win = WAV_DECODER.window_samples
        n = np.arange(win)

        def wav(bins, amp: int) -> bytes:
            frames = np.concatenate(
                [
                    np.rint(
                        amp * np.sin(2 * np.pi * k * n / win)
                    ).astype("<i2")
                    for k in bins
                ]
            )
            buf = io.BytesIO()
            w = wave.open(buf, "wb")
            try:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(8000)
                w.writeframes(frames.tobytes())
            finally:
                w.close()
            return buf.getvalue()

        def melody(seed: int):
            rng = np.random.RandomState(seed % (2**31 - 1))
            # 6 distinct bin-centered notes: peak bin IS the note, so
            # landmark runs are literal 4-note subsequences; random
            # 6-tuples over ~390 bins share >= 2 runs only by design
            return tuple(
                int(b) for b in rng.choice(np.arange(5, 395), 6,
                                           replace=False)
            )

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["id"]:
                d = int(doc_id)
                local = d - AUD_BASE
                if local % DUP_EVERY == DUP_EVERY - 1:
                    p = wav(melody(d - 1), 3600)  # re-leveled copy
                else:
                    p = wav(melody(d), 12000)
                ids.append(d)
                payloads.append(p)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    def gen_video(batches):
        import pandas as pd

        from flink_exercise_spark.operators.video_dedup import (
            gray_jpeg_frame,
            mjpeg_avi_bytes,
        )

        def video(d: int, q: int = 8, relevel: bool = False) -> bytes:
            return mjpeg_avi_bytes(
                [
                    gray_jpeg_frame(d * FRAMES + i, q, relevel)
                    for i in range(FRAMES)
                ]
            )

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["id"]:
                d = int(doc_id)
                local = d - VID_BASE
                if local % DUP_EVERY == DUP_EVERY - 1:
                    p = video(d - 1, q=4, relevel=True)
                else:
                    p = video(d)
                ids.append(d)
                payloads.append(p)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    def gen_other(batches):
        import hashlib

        import pandas as pd

        def text(d: int) -> bytes:
            h = hashlib.md5(f"text-{d}".encode()).hexdigest()
            return (f"doc {d} " + h * 8).encode()

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["id"]:
                d = int(doc_id)
                local = d - OTH_BASE
                if local % DUP_EVERY == DUP_EVERY - 1:
                    p = text(d - 1)  # byte-identical copy
                else:
                    p = text(d)
                ids.append(d)
                payloads.append(p)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    schema = "doc_id long, payload binary"
    parts = int(cpus)
    blocks = [
        spark.range(0, N_IMG).repartition(parts).mapInPandas(
            gen_images, schema
        ),
        spark.range(AUD_BASE, AUD_BASE + N_AUD).repartition(parts)
        .mapInPandas(gen_audio, schema),
        spark.range(VID_BASE, VID_BASE + N_VID).repartition(parts)
        .mapInPandas(gen_video, schema),
        spark.range(OTH_BASE, OTH_BASE + N_OTH).repartition(parts)
        .mapInPandas(gen_other, schema),
    ]
    corpus = blocks[0]
    for b in blocks[1:]:
        corpus = corpus.unionByName(b)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fixture = os.path.join(repo, ".localdata", "mm_front_door_bench")
    corpus.write.mode("overwrite").parquet(fixture)
    corpus = spark.read.parquet(fixture)

    rec: dict[str, object] = {
        "n_img": N_IMG, "n_aud": N_AUD, "n_vid": N_VID, "n_oth": N_OTH,
        "n_total": N_IMG + N_AUD + N_VID + N_OTH,
        "frames_per_video": FRAMES,
    }

    # 1. router overhead: ONE codegen prefix scan, no Python
    t0 = time.perf_counter()
    counts = {
        r["modality"]: r["count"]
        for r in corpus.select(modality_expr().alias("modality"))
        .groupBy("modality").count().collect()
    }
    rec["router_scan_sec"] = round(time.perf_counter() - t0, 3)
    rec["router_counts"] = counts
    assert counts == {
        "image": N_IMG, "audio": N_AUD, "video": N_VID, "other": N_OTH,
    }, counts

    # 2. the exact-byte floor's second payload scan, standalone: the
    # md5 + canonical aggregate over the audio/video payload bytes
    t0 = time.perf_counter()
    av = corpus.select(
        "doc_id", "payload", modality_expr().alias("modality")
    ).filter(F.col("modality").isin("audio", "video")).select(
        "doc_id", "modality", F.md5("payload").alias("_h")
    )
    n_floor_groups = (
        av.groupBy("_h", "modality")
        .agg(F.min("doc_id").alias("doc_a"))
        .count()
    )
    rec["floor_scan_sec"] = round(time.perf_counter() - t0, 3)
    rec["floor_groups"] = n_floor_groups

    # 3. the front door end to end (the registered composition), all
    # four modality caches live
    t0 = time.perf_counter()
    pairs = multimodal_dup_pairs(corpus, video_stride=1).collect()
    rec["front_door_sec"] = round(time.perf_counter() - t0, 3)
    rec["docs_per_sec"] = round(
        rec["n_total"] / rec["front_door_sec"], 1
    )
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    rec["cache_mem_bytes"] = int(sum(i.memSize() for i in infos))
    rec["cache_disk_bytes"] = int(sum(i.diskSize() for i in infos))
    rec["floor_share_of_front_door"] = round(
        rec["floor_scan_sec"] / rec["front_door_sec"], 4
    )
    release_persisted()

    # planted recall + false pairs per modality
    def planted(base: int, n: int) -> set[tuple[int, int]]:
        return {
            (base + d - 1, base + d)
            for d in range(n)
            if d % DUP_EVERY == DUP_EVERY - 1
        }

    want = {
        "image": planted(0, N_IMG),
        "audio": planted(AUD_BASE, N_AUD),
        "video": planted(VID_BASE, N_VID),
        "other": planted(OTH_BASE, N_OTH),
    }
    got: dict[str, set[tuple[int, int]]] = {m: set() for m in want}
    cross_modality = 0
    for r in pairs:
        m = r["modality"]
        a, b = r["doc_a"], r["doc_b"]
        blocks_of = [
            x // 1_000_000 for x in (a, b)
        ]
        if blocks_of[0] != blocks_of[1]:
            cross_modality += 1
        got.setdefault(m, set()).add((a, b))
    rec["cross_modality_pairs"] = cross_modality
    rec["per_modality"] = {}
    for m in want:
        hits = len(got[m] & want[m])
        rec["per_modality"][m] = {
            "planted": len(want[m]),
            "recall": round(hits / max(len(want[m]), 1), 4),
            "extra_pairs": len(got[m] - want[m]),
        }
    rec["runs_per_video"] = FRAMES - FP_FRAMES + 1

    plan = (
        multimodal_dup_pairs(corpus, video_stride=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    rec["no_cartesian"] = (
        "CartesianProduct" not in plan
        and "BroadcastNestedLoopJoin" not in plan
    )
    release_persisted()
    spark.stop()
    out = {"bench": "mm_front_door", "rec": rec}
    print(json.dumps(out))
    with open(os.path.join(repo, "BENCH_MM_FRONT_DOOR.json"), "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
