"""Measured evidence for (a) the persisted ANN store's query-cost win
over the in-memory rebuild (VERDICT r10 ask #4) and (b) the
residual-vs-raw PQ build-cost gap and its r11 fix (ask #5).

Runs on the 200k-vector / 16.7k-cell clustered fixture
(scripts/bench_residual_clustered.py geometry, reused from
.localdata/resid_clustered when present):

1. In-memory knn_ivf_pq / knn_ivf_pq_residual with the HOF encode —
   the r10 BENCH_RESIDUAL configuration (the 2x gap being priced).
2. The same two with encode_kernel=True — the r11 Arrow encode kernel
   (bit-identical, pinned in test_compression.py) plus the persisted
   residual relation; the claim is both collapse to ~IO cost and the
   gap closes.
3. write_ann_index (kernels on) = the one-time build cost, then
   query_ann_index = the recurring per-query-batch cost, which is the
   number the store exists for: answers EQUAL the in-memory operator
   (asserted here), at a fraction of its wall-clock, reading only the
   probed cells' files (bytes recorded from the manifest).

Usage:
  SPARK_GRAFT_DRIVER_MEM=64g python scripts/bench_ann_store.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

N_CORPUS = int(os.environ.get("SPARK_GRAFT_RESID_N", "200004"))
N_PER_CELL = 12
N_CELLS = N_CORPUS // N_PER_CELL
DIMS = 64
NOISE = 0.05
N_QUERIES = 10
K = 3
SHORTLIST = int(os.environ.get("SPARK_GRAFT_RESID_SHORTLIST", "12"))
N_PROBE = int(os.environ.get("SPARK_GRAFT_RESID_PROBE", "2"))
SKIP_HOF = os.environ.get("SPARK_GRAFT_SKIP_HOF", "0") == "1"


def main() -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from flink_exercise_spark.caching import release_persisted
    from flink_exercise_spark.operators import manifest as mft
    from flink_exercise_spark.operators.ann_store import (
        query_ann_index,
        read_ann_meta,
        write_ann_index,
    )
    from flink_exercise_spark.operators.compression import (
        knn_ivf_pq,
        knn_ivf_pq_residual,
    )
    from flink_exercise_spark.operators.similarity import knn_ivf
    from flink_exercise_spark.session import get_spark, local_cores

    spark = get_spark(
        app_name="bench-ann-store",
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

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fixture = os.path.join(repo, ".localdata", "resid_clustered")
    if (
        os.path.exists(fixture)
        and spark.read.parquet(fixture).count() != N_CORPUS + N_QUERIES
    ):
        shutil.rmtree(fixture)  # cached fixture is a different scale
    if not os.path.exists(fixture):
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
                    out[i] = centers[cell] + rng.uniform(
                        -NOISE, NOISE, DIMS
                    )
                yield pd.DataFrame({"vec_id": ids, "embedding": list(out)})

        (
            spark.range(0, N_CORPUS + N_QUERIES)
            .repartition(local_cores())
            .mapInPandas(gen, "vec_id long, embedding array<double>")
            .write.mode("overwrite")
            .parquet(fixture)
        )
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
        out = fn()
        rows = out.collect() if hasattr(out, "collect") else out
        rec[f"{name}_sec"] = round(time.perf_counter() - t0, 3)
        release_persisted()
        spark.catalog.clearCache()
        print(f"# {name}: {rec[f'{name}_sec']}s", file=sys.stderr)
        return rows

    want_float = {
        (r["query_id"], r["neighbor_id"])
        for r in timed(
            "knn_ivf_float",
            lambda: knn_ivf(
                emb, n_cells=N_CELLS, n_probe=N_PROBE, k=K,
                assign_kernel=True,
            ),
        )
    }
    common = dict(
        n_cells=N_CELLS, n_probe=N_PROBE, k=K, shortlist=SHORTLIST,
        assign_kernel=True,
    )
    if not SKIP_HOF:
        raw_hof = timed(
            "raw_hof_encode", lambda: knn_ivf_pq(emb, **common)
        )
        res_hof = timed(
            "residual_hof_encode",
            lambda: knn_ivf_pq_residual(emb, **common),
        )
    raw_ker = timed(
        "raw_encode_kernel",
        lambda: knn_ivf_pq(emb, encode_kernel=True, **common),
    )
    res_ker = timed(
        "residual_encode_kernel",
        lambda: knn_ivf_pq_residual(emb, encode_kernel=True, **common),
    )
    if not SKIP_HOF:
        assert sorted(map(tuple, raw_hof)) == sorted(map(tuple, raw_ker))
        assert sorted(map(tuple, res_hof)) == sorted(map(tuple, res_ker))
        rec["kernel_equals_hof"] = True
    rec["raw_recall"] = round(
        len({(r[0], r[1]) for r in raw_ker} & want_float)
        / len(want_float), 4,
    )
    rec["residual_recall"] = round(
        len({(r[0], r[1]) for r in res_ker} & want_float)
        / len(want_float), 4,
    )

    # --- the persisted store: build once, query many -------------------------
    store_path = os.path.join(repo, ".localdata", "ann_store_bench")
    shutil.rmtree(store_path, ignore_errors=True)
    timed(
        "write_ann_index",
        lambda: write_ann_index(
            emb, store_path, n_cells=N_CELLS, assign_kernel=True,
            encode_kernel=True,
        ),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    store_rows = timed(
        "query_ann_index",
        lambda: query_ann_index(
            spark, store_path, queries, k=K, n_probe=N_PROBE,
            shortlist=SHORTLIST,
        ),
    )
    # a second query batch against the warm store (no build anywhere)
    timed(
        "query_ann_index_repeat",
        lambda: query_ann_index(
            spark, store_path, queries, k=K, n_probe=N_PROBE,
            shortlist=SHORTLIST,
        ),
    )
    assert sorted(map(tuple, store_rows)) == sorted(map(tuple, res_ker)), (
        "store answers != in-memory residual operator"
    )
    rec["store_equals_in_memory"] = True

    # bytes: whole codes+floats stores vs the probed cells' files only
    meta = read_ann_meta(store_path)
    # re-derive the probed cell list the way the query does: it is
    # model-sized driver state, so recompute via the store centroids
    from flink_exercise_spark.functions.vectors import (
        cosine_from_norms,
        with_norm,
    )

    cents = mft.versioned_read(spark, os.path.join(store_path, "centroids"))
    q = with_norm(queries, vec_col="embedding").select(
        "query_id",
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    probe_item = F.struct(
        (-F.round(
            cosine_from_norms("q_emb", "cent", "q_norm", "cent_norm"), 6
        )).alias("_nc"),
        F.col("cell_id").alias("_cid"),
    )
    probed_cells = {
        r["cid"]
        for r in q.crossJoin(
            F.broadcast(cents.select("cell_id", "cent", "cent_norm"))
        )
        .groupBy("query_id")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(probe_item)), 1, N_PROBE
            ).alias("_top")
        )
        .select(F.explode("_top._cid").alias("cid"))
        .collect()
    }
    for sub in ("codes", "floats"):
        man = mft.read_manifest(os.path.join(store_path, sub))
        total = probed_bytes = 0
        for pval, files in man["files"].items():
            nbytes = sum(
                os.path.getsize(os.path.join(store_path, sub, f))
                for f in files
            )
            total += nbytes
            if int(pval) in probed_cells:
                probed_bytes += nbytes
        rec[f"{sub}_store_bytes"] = total
        rec[f"{sub}_probed_bytes"] = probed_bytes
    rec["n_probed_cells"] = len(probed_cells)
    rec["meta_n_corpus"] = meta["n_corpus"]
    spark.stop()
    print(json.dumps({"bench": "ann_store", "rec": rec}))


if __name__ == "__main__":
    main()
