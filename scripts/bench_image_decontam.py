"""Scaling record for benchmark-image decontamination (r13): the
broadcast-band shape at a realistic corpus/benchmark asymmetry —
N corpus images against a B-image benchmark set, with planted leaks
known by construction.

Fixture: the bench_image_dedup random low-frequency raster family
(decorrelated spectra, the axis pHash actually hashes). Benchmark
images draw from a DISJOINT seed range; every LEAK_EVERY-th corpus
image is a brightness-shifted (+14) copy of benchmark image
(d // LEAK_EVERY) % B — so expected flags are exactly
floor(N / LEAK_EVERY) (doc, bench) pairs at Hamming 0, and any other
flag is a false positive to report, not hide.

Usage:
  SPARK_GRAFT_DRIVER_MEM=64g python scripts/bench_image_decontam.py
  SPARK_GRAFT_IMGDEC_N=100000  SPARK_GRAFT_IMGDEC_B=1000
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

N = int(os.environ.get("SPARK_GRAFT_IMGDEC_N", "100000"))
B = int(os.environ.get("SPARK_GRAFT_IMGDEC_B", "1000"))
LEAK_EVERY = 100
BENCH_SEED0 = 50_000_000  # disjoint from corpus seeds [0, N)
H, W = 45, 60


def _raster_fns():
    import numpy as np

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

    return raster


def main() -> None:
    from flink_exercise_spark.caching import release_persisted
    from flink_exercise_spark.operators.image_dedup import (
        decontaminate_images,
        image_phash,
    )
    from flink_exercise_spark.session import get_spark, local_cores

    cpus = local_cores()
    spark = get_spark(
        app_name="bench-image-decontam",
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

    def gen_corpus(batches):
        import pandas as pd

        from flink_exercise_spark.operators.image_dedup import (
            bmp_encode_gray,
        )

        raster = _raster_fns()
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["id"]:
                d = int(doc_id)
                if d % LEAK_EVERY == LEAK_EVERY - 1:
                    # planted leak: brightness-shifted copy of a
                    # benchmark image (never clips: values <= 219+14)
                    b = (d // LEAK_EVERY) % B
                    base = raster(BENCH_SEED0 + b)
                    r = [[v + 14 for v in row] for row in base]
                else:
                    r = raster(d)
                ids.append(d)
                payloads.append(bmp_encode_gray(r))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    def gen_bench(batches):
        import pandas as pd

        from flink_exercise_spark.operators.image_dedup import (
            bmp_encode_gray,
        )

        raster = _raster_fns()
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["id"]:
                b = int(doc_id)
                ids.append(b)
                payloads.append(bmp_encode_gray(raster(BENCH_SEED0 + b)))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    schema = "doc_id long, payload binary"
    parts = int(cpus)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fixture = os.path.join(repo, ".localdata", "image_decontam_bench")
    (
        spark.range(0, N).repartition(parts)
        .mapInPandas(gen_corpus, schema)
        .write.mode("overwrite").parquet(fixture)
    )
    corpus = spark.read.parquet(fixture)
    bench_df = (
        spark.range(0, B).repartition(min(parts, 8))
        .mapInPandas(gen_bench, schema)
    )

    rec: dict[str, object] = {
        "n_corpus": N, "n_benchmark": B, "leak_every": LEAK_EVERY,
    }

    # benchmark side hashed once (model-sized, the broadcast side)
    t0 = time.perf_counter()
    bench_hashes = image_phash(bench_df)
    bench_hashes.write.mode("overwrite").parquet(f"{fixture}_bh")
    rec["bench_hash_sec"] = round(time.perf_counter() - t0, 3)
    bench_hashes = spark.read.parquet(f"{fixture}_bh")

    t0 = time.perf_counter()
    flags = decontaminate_images(image_phash(corpus), bench_hashes)
    rows = flags.collect()
    rec["decontam_sec"] = round(time.perf_counter() - t0, 3)
    rec["corpus_images_per_sec"] = round(N / rec["decontam_sec"], 1)
    release_persisted()

    planted = {
        (d, (d // LEAK_EVERY) % B)
        for d in range(N)
        if d % LEAK_EVERY == LEAK_EVERY - 1
    }
    got = {(r["doc_id"], r["bench_id"]) for r in rows}
    rec["planted_leaks"] = len(planted)
    rec["planted_recall"] = round(
        len(got & planted) / max(len(planted), 1), 4
    )
    rec["false_flags"] = len(got - planted)
    rec["planted_hamming_max"] = max(
        (r["hamming"] for r in rows
         if (r["doc_id"], r["bench_id"]) in planted),
        default=-1,
    )

    plan = (
        decontaminate_images(image_phash(corpus), bench_hashes)
        ._jdf.queryExecution().executedPlan().toString()
    )
    rec["no_cartesian"] = (
        "CartesianProduct" not in plan
        and "BroadcastNestedLoopJoin" not in plan
    )
    rec["broadcast_join"] = "BroadcastHashJoin" in plan
    spark.stop()
    out = {"bench": "image_decontam", "rec": rec}
    print(json.dumps(out))
    with open(os.path.join(repo, "BENCH_IMAGE_DECONTAM.json"), "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
