"""Scaling record for the ANN compression family (VERDICT r8 ask #7):
knn_ivf_int8 and knn_ivf_pq vs the float knn_ivf at sf10 / sf100, with
the STORE-SIZE evidence (on-disk bytes of the probed relation — the
100 TB bill the compression exists to cut) and per-operator recall vs
the float answer set at the same (n_cells, n_probe, k).

Two measurement classes per sf:

1. store bytes: each operator's corpus-side probed relation
   (float (vec_id, embedding, norm) / int8 (vec_id, qvec, norm) /
   PQ (vec_id, codes, norm)) written as snappy parquet — the honest
   bytes-at-rest a cell-partitioned 100 TB store would hold.
2. end-to-end query wall-clock (store build + probe + shortlist
   re-score, the operators' inline composition) + recall@k vs
   knn_ivf. Build cost amortizes in production (the store persists);
   it is INCLUDED here and stated, not hidden — the decade ratio
   sf10 -> sf100 is the scaling claim, and build+query scale the same
   way (both linear in corpus size at fixed query count).

Usage:
  SPARK_GRAFT_DRIVER_MEM=64g python scripts/bench_compression_scaling.py
  SPARK_GRAFT_COMP_SFS=10     # subset (default "10,100")
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

SFS = [
    s.strip()
    for s in os.environ.get("SPARK_GRAFT_COMP_SFS", "10,100").split(",")
]
K = 3


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    from pyspark.sql import functions as F

    from bench import materialize
    from flink_exercise_spark.caching import release_persisted
    from flink_exercise_spark.functions.vectors import with_norm
    from flink_exercise_spark.operators.compression import (
        int8_scales,
        knn_ivf_int8,
        knn_ivf_pq,
        pq_codebooks,
        pq_encode,
        quantize_int8,
    )
    from flink_exercise_spark.operators.similarity import knn_ivf
    from flink_exercise_spark.session import get_spark, local_cores
    from flink_exercise_spark.sources.tables import load_table, spread

    spark = get_spark(
        app_name="bench-compression-scaling",
        master=f"local[{local_cores()}]",
        conf={
            "spark.sql.shuffle.partitions": os.environ.get(
                "SPARK_GRAFT_SHUFFLE", "96"
            ),
            "spark.sql.adaptive.enabled": "true",
            "spark.default.parallelism": os.environ.get(
                "SPARK_GRAFT_DP", "32"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    out: dict[str, dict] = {}
    for sf in SFS:
        sf_dir = f"/root/repo/.localdata/sf{sf}"
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = spread(emb.filter(F.col("vec_id") >= 10), "vec_id")
        rec: dict[str, object] = {"n_corpus": corpus.count()}

        # --- store bytes (the compression claim at rest) ---
        tmp = tempfile.mkdtemp(prefix=f"comp_store_sf{sf}_")
        try:
            with_norm(corpus).write.mode("overwrite").parquet(
                f"{tmp}/float"
            )
            rec["float_store_bytes"] = _dir_bytes(f"{tmp}/float")
            quantize_int8(corpus, int8_scales(corpus)).write.mode(
                "overwrite"
            ).parquet(f"{tmp}/int8")
            rec["int8_store_bytes"] = _dir_bytes(f"{tmp}/int8")
            pq_encode(
                corpus, pq_codebooks(corpus, m=8, n_codes=16), m=8
            ).write.mode("overwrite").parquet(f"{tmp}/pq")
            rec["pq_store_bytes"] = _dir_bytes(f"{tmp}/pq")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        release_persisted()
        spark.catalog.clearCache()

        # --- wall-clock + recall at identical probe parameters ---
        def timed(name, fn):
            t0 = time.perf_counter()
            rows = fn().collect()
            rec[f"{name}_sec"] = round(time.perf_counter() - t0, 3)
            release_persisted()
            spark.catalog.clearCache()
            return {(r["query_id"], r["neighbor_id"]) for r in rows}

        want = timed("knn_ivf_float", lambda: knn_ivf(emb, k=K))
        got8 = timed("knn_ivf_int8", lambda: knn_ivf_int8(emb, k=K))
        gotpq = timed("knn_ivf_pq", lambda: knn_ivf_pq(emb, k=K))
        rec["int8_recall"] = round(len(got8 & want) / len(want), 4)
        rec["pq_recall"] = round(len(gotpq & want) / len(want), 4)
        rec["k"] = K
        out[f"sf{sf}"] = rec
        print(f"# sf{sf}: {rec}", file=sys.stderr)

    spark.stop()
    print(json.dumps({"bench": "compression_scaling", "ops": out}))


if __name__ == "__main__":
    main()
