"""Scaling record for image perceptual-hash dedup (r11): hash
throughput through the REAL BMP decode + DCT kernel, and the banded
pair join's behavior on a corpus with planted duplicate groups.

Fixture: N 60x45 synthetic gray BMPs generated DISTRIBUTED (mapInPandas
over spark.range; the driver holds nothing) — each doc renders one of
N_PATTERN_FAMILIES parameterized integer patterns; every K-th doc is a
brightness-shifted COPY of the previous doc (the planted near-dup), so
expected pairs are known by construction: floor(N / K) pairs, each
(doc, doc+1) with hamming <= max_distance.

Usage:
  SPARK_GRAFT_DRIVER_MEM=64g python scripts/bench_image_dedup.py
  SPARK_GRAFT_IMG_N=20000   # corpus size (default)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

N = int(os.environ.get("SPARK_GRAFT_IMG_N", "20000"))
DUP_EVERY = 4  # every 4th doc duplicates its predecessor
W, H = 60, 45


def main() -> None:
    from pyspark.sql import functions as F

    from flink_exercise_spark.caching import release_persisted
    from flink_exercise_spark.operators.image_dedup import (
        image_phash,
        image_phash_pairs,
    )
    from flink_exercise_spark.session import get_spark, local_cores

    spark = get_spark(
        app_name="bench-image-dedup",
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
        import numpy as np
        import pandas as pd

        from flink_exercise_spark.operators.image_dedup import (
            bmp_encode_gray,
        )

        # random LOW-FREQUENCY content per doc — the axis pHash actually
        # hashes, so hashes decorrelate the way real photographs do; the
        # 10x10 spectrum strictly covers the hashed 8x8 block so no
        # hashed coefficient is degenerate-zero (near-zero tails tie at
        # the median and flip under a brightness shift). (A
        # first cut used a parameterized quadratic pattern family:
        # thousands of docs then shared low-frequency DCT bytes — a
        # corpus pHash legitimately sees as one giant near-dup cluster,
        # measuring the hot-band cap, not the operator.)
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
            # values in [25, 219]: the +14 duplicate shift never clips
            img = 25 + np.rint((raw - lo) / (hi - lo) * 194)
            return img.astype(np.int64).tolist()

        for pdf in batches:
            rows = []
            for doc_id in pdf["id"]:
                d = int(doc_id)
                if d % DUP_EVERY == DUP_EVERY - 1:
                    base = raster(d - 1)  # duplicate of predecessor...
                    r = [[v + 14 for v in row] for row in base]  # shifted
                else:
                    r = raster(d)
                rows.append((d, bmp_encode_gray(r)))
            yield pd.DataFrame(
                {
                    "doc_id": [x[0] for x in rows],
                    "payload": [x[1] for x in rows],
                }
            )

    corpus = (
        spark.range(0, N)
        .repartition(local_cores())
        .mapInPandas(gen, "doc_id long, payload binary")
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fixture = os.path.join(repo, ".localdata", "image_dedup_bench")
    corpus.write.mode("overwrite").parquet(fixture)
    corpus = spark.read.parquet(fixture)

    rec: dict[str, object] = {"n_images": N, "dims": f"{W}x{H}"}

    t0 = time.perf_counter()
    hashes = image_phash(corpus)
    hashes.write.mode("overwrite").parquet(f"{fixture}_hashes")
    rec["phash_sec"] = round(time.perf_counter() - t0, 3)
    rec["images_per_sec"] = round(N / rec["phash_sec"], 1)
    release_persisted()
    spark.catalog.clearCache()

    hashes = spark.read.parquet(f"{fixture}_hashes")
    t0 = time.perf_counter()
    pairs = image_phash_pairs(hashes).collect()
    rec["pairs_sec"] = round(time.perf_counter() - t0, 3)
    rec["n_pairs"] = len(pairs)
    planted = {
        (d - 1, d) for d in range(N) if d % DUP_EVERY == DUP_EVERY - 1
    }
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    rec["planted_pairs"] = len(planted)
    rec["planted_recall"] = round(
        len(found & planted) / len(planted), 4
    )
    rec["extra_pairs"] = len(found - planted)
    plan = (
        image_phash_pairs(hashes)
        ._jdf.queryExecution().executedPlan().toString()
    )
    rec["no_cartesian"] = (
        "CartesianProduct" not in plan
        and "BroadcastNestedLoopJoin" not in plan
    )
    spark.stop()
    print(json.dumps({"bench": "image_dedup", "rec": rec}))


if __name__ == "__main__":
    main()
