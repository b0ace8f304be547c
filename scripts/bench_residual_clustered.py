"""Scale evidence for residual IVF-PQ on CLUSTERED data (VERDICT r9
ask #5): the r9 residual-encoding claims are pinned at test scale on
crafted clusters because the synthetic sf fixtures are structureless
(residual variance HIGHER than raw there — documented in
test_compression.py::_clustered_emb). This script scales the crafted
geometry to 200k vectors and records recall of knn_ivf_pq (raw-vector
codes) vs knn_ivf_pq_residual (FAISS-canonical residual codes) at the
SAME tight shortlist, against knn_ivf's float answer set.

Fixture geometry (the scaled _clustered_emb): the growth axis is the
honest one used by every scaling fixture in this repo — MORE CLUSTERS
(keys), constant per-cluster membership (12, the test fixture's),
because real corpora grow in keys, not in per-key pathology. The
quantity residual encoding buys is CROSS-cell discrimination (the
exact <q, cent> term); within-cell ranking under structureless noise
is unrankable by ANY 16-code budget (raw or residual — measured: at
100-member cells both recalls collapse to ~shortlist/cell_size), so a
fixture that scaled cell SIZE would measure noise, not the encoding.
  - N_CELLS dense uniform-random centers in [-1, 1]^dims — inter-center
    spread in EVERY dim, the regime where a 16-code budget cannot
    encode cluster identity and residual encoding pays.
  - members = center + U(-noise, noise) perturbation, seeded PER ID so
    the corpus is deterministic regardless of partitioning.
  - ids < 10 are queries (perturbed centers of cells 0..9); corpus ids
    interleave cells (vid -> cell (vid-10) % N_CELLS) so the
    deterministic coarse codebook (first N_CELLS corpus vectors) spans
    one member of every cluster.
  - generation is DISTRIBUTED (mapInPandas over spark.range) — the
    driver holds only the N_CELLS x dims center matrix.

Usage:
  SPARK_GRAFT_DRIVER_MEM=64g python scripts/bench_residual_clustered.py
  SPARK_GRAFT_RESID_N=200000   # corpus size (default)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

N_CORPUS = int(os.environ.get("SPARK_GRAFT_RESID_N", "200004"))
N_PER_CELL = 12  # the test fixture's membership, held constant
N_CELLS = N_CORPUS // N_PER_CELL
DIMS = 64
NOISE = 0.05
N_QUERIES = 10
K = 3
# tight: default covers ONE cell of the ~24 probed candidates
SHORTLIST = int(os.environ.get("SPARK_GRAFT_RESID_SHORTLIST", "12"))
N_PROBE = int(os.environ.get("SPARK_GRAFT_RESID_PROBE", "2"))


def main() -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from flink_exercise_spark.caching import release_persisted
    from flink_exercise_spark.operators.compression import (
        knn_ivf_pq,
        knn_ivf_pq_residual,
    )
    from flink_exercise_spark.operators.similarity import knn_ivf
    from flink_exercise_spark.session import get_spark, local_cores

    spark = get_spark(
        app_name="bench-residual-clustered",
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

    # driver-side model state: the center matrix only (N_CELLS x 64)
    centers = np.random.RandomState(7).uniform(-1, 1, (N_CELLS, DIMS))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = np.empty((len(ids), DIMS))
            for i, vid in enumerate(ids):
                rng = np.random.RandomState(int(vid) % (2**31 - 1))
                cell = (
                    int(vid) % N_CELLS
                    if vid < N_QUERIES
                    else (int(vid) - N_QUERIES) % N_CELLS
                )
                out[i] = centers[cell] + rng.uniform(-NOISE, NOISE, DIMS)
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": list(out)}
            )

    emb = (
        spark.range(0, N_CORPUS + N_QUERIES)
        .repartition(local_cores())
        .mapInPandas(gen, "vec_id long, embedding array<double>")
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fixture = os.path.join(repo, ".localdata", "resid_clustered")
    emb.write.mode("overwrite").parquet(fixture)
    emb = spark.read.parquet(fixture)

    rec: dict[str, object] = {
        "n_corpus": N_CORPUS,
        "n_cells": N_CELLS,
        "dims": DIMS,
        "k": K,
        "shortlist": SHORTLIST,
        "n_probe": N_PROBE,
    }

    def timed(name, fn):
        t0 = time.perf_counter()
        rows = fn().collect()
        rec[f"{name}_sec"] = round(time.perf_counter() - t0, 3)
        release_persisted()
        spark.catalog.clearCache()
        return {(r["query_id"], r["neighbor_id"]) for r in rows}

    # assign_kernel: the corpus x codebook argmax is the build cost at
    # sqrt(N)-sized codebooks (~16k cells here); the Arrow kernel is
    # bit-identical to the HOF assignment (pinned in
    # test_similarity.py) and turns hours of interpreted folds into
    # seconds of batched numpy.
    want = timed(
        "knn_ivf_float",
        lambda: knn_ivf(
            emb, n_cells=N_CELLS, n_probe=N_PROBE, k=K,
            assign_kernel=True,
        ),
    )
    raw = timed(
        "knn_ivf_pq_raw",
        lambda: knn_ivf_pq(
            emb,
            n_cells=N_CELLS,
            n_probe=N_PROBE,
            k=K,
            shortlist=SHORTLIST,
            assign_kernel=True,
        ),
    )
    res = timed(
        "knn_ivf_pq_residual",
        lambda: knn_ivf_pq_residual(
            emb,
            n_cells=N_CELLS,
            n_probe=N_PROBE,
            k=K,
            shortlist=SHORTLIST,
            assign_kernel=True,
        ),
    )
    rec["raw_recall"] = round(len(raw & want) / len(want), 4)
    rec["residual_recall"] = round(len(res & want) / len(want), 4)
    spark.stop()
    print(json.dumps({"bench": "residual_clustered", "rec": rec}))


if __name__ == "__main__":
    main()
