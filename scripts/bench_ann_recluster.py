"""The ANN recluster decision record (VERDICT r11 ask #4): WHEN does
``--rebuild`` pay?

appends pin the coarse centroids and PQ codebooks forever
(ann_prep.py documents --rebuild as the periodic recluster), but
nothing measured the decay side of that trade. This experiment does,
on the 200k-scale clustered geometry:

1. Bootstrap a 200k-vector index (2000 intrinsic clusters, dims 64)
   through the CLI path (run_ann_batch — the deployment surface).
2. Append ONE 20k batch containing four drift groups: 1000 tight
   5-member modes each, at Euclidean distance d in {0.5, 1.5, 3, 6}
   from a pinned centroid (inter-centroid spacing is ~6.5, so d=3
   reaches the midpoint regions between pinned cells and d=6 reaches
   a different cell's neighborhood entirely; the 0.5 floor keeps a
   query's true top-k = its own mode's members, cleanly separated
   from the base swarm — a mode ON a base center makes exact top-k an
   arbitrary pick among ~100 near-identical vectors and the metric
   ill-conditioned, which the first cut of this experiment measured
   as recall 0.07 EVERYWHERE including the rebuilt store). Appended
   vectors assign against the PINNED centroids; their residuals grow
   with d, so PQ codes degrade and coarse probing fragments.
3. Per drift group, measure recall@k of query_ann_index against an
   EXACT numpy ground truth over the full post-append corpus — on the
   pinned store (n_probe=2, the r11 config), on the pinned store with
   n_probe doubled (the cheap mitigation a deployment would try
   first), and after --rebuild (fresh centroids + books over the
   union).
4. Record the append cost vs the rebuild cost next to the decay, so
   SCALE.md can state a quantitative day-N rule instead of "rebuild
   periodically".

Usage:
  SPARK_GRAFT_DRIVER_MEM=64g python scripts/bench_ann_recluster.py
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

N_BASE = int(os.environ.get("SPARK_GRAFT_RECL_N", "200000"))
N_CELLS = int(os.environ.get("SPARK_GRAFT_RECL_CELLS", "2000"))
DIMS = 64
NOISE = 0.05
DRIFTS = (0.5, 1.5, 3.0, 6.0)
MODES_PER_DRIFT = 1000
MEMBERS_PER_MODE = 5
MODE_NOISE = 0.01  # tight modes: the true top-k is unambiguous
QUERIES_PER_DRIFT = 40
K = 3
N_PROBE = 2
SHORTLIST = 12
APPEND_ID0 = 10_000_000
# 'lowest' (default) runs the full experiment and overwrites the main
# record; 'spread' re-runs ONLY the rebuild arm (the pinned side is
# init-independent) and folds the result into the artifact's
# spread_init_ab block — the reproducible form of the r12 hand-run A/B
# (ADVICE r13: the r12 spread selection was biased to the low id
# range; clustering.py now orders the pool by the id hash).
INIT = os.environ.get("SPARK_GRAFT_RECL_INIT", "lowest")


def main() -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from flink_exercise_spark.ann_prep import run_ann_batch
    from flink_exercise_spark.caching import release_persisted
    from flink_exercise_spark.operators.ann_store import (
        ann_root_path,
        probe_appended_recall,
        query_ann_index,
    )
    from flink_exercise_spark.session import get_spark, local_cores

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    artifact_path = os.path.join(repo, "BENCH_ANN_RECLUSTER.json")
    if INIT != "lowest" and not os.path.exists(artifact_path):
        # the spread arm FOLDS into the standing artifact — dying at
        # the open() after ~6 min of rebuild work would be the
        # quiet-late-failure anti-pattern (code-review r13)
        raise SystemExit(
            "SPARK_GRAFT_RECL_INIT=spread folds into an existing "
            "BENCH_ANN_RECLUSTER.json — run the lowest (default) arm "
            "first to produce the main record"
        )

    spark = get_spark(
        app_name="bench-ann-recluster",
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

    work = os.path.join(repo, ".localdata", "ann_recluster")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    rng = np.random.RandomState(7)
    centers = rng.uniform(-1, 1, (N_CELLS, DIMS))

    # --- base corpus: N_BASE vectors around the intrinsic centers ----
    base_path = os.path.join(work, "base")

    def gen_base(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = np.empty((len(ids), DIMS))
            for i, vid in enumerate(ids):
                r = np.random.RandomState(int(vid) % (2**31 - 1))
                out[i] = centers[int(vid) % N_CELLS] + r.uniform(
                    -NOISE, NOISE, DIMS
                )
            yield pd.DataFrame({"vec_id": ids, "embedding": list(out)})

    (
        spark.range(0, N_BASE)
        .repartition(local_cores())
        .mapInPandas(gen_base, "vec_id long, embedding array<double>")
        .write.parquet(base_path)
    )

    # --- drifted append: new modes at distance d from pinned centers -
    mode_rng = np.random.RandomState(11)
    drift_modes: dict[float, np.ndarray] = {}
    append_rows: list[tuple[int, list[float]]] = []
    vid = APPEND_ID0
    for d in DRIFTS:
        parents = mode_rng.choice(
            N_CELLS, MODES_PER_DRIFT, replace=MODES_PER_DRIFT > N_CELLS
        )
        units = mode_rng.normal(size=(MODES_PER_DRIFT, DIMS))
        units /= np.linalg.norm(units, axis=1, keepdims=True)
        modes = centers[parents] + d * units
        drift_modes[d] = modes
        for j in range(MODES_PER_DRIFT):
            for _ in range(MEMBERS_PER_MODE):
                v = modes[j] + mode_rng.uniform(-MODE_NOISE, MODE_NOISE, DIMS)
                append_rows.append((vid, [float(x) for x in v]))
                vid += 1
    append_path = os.path.join(work, "append")
    spark.createDataFrame(
        append_rows, "vec_id long, embedding array<double>"
    ).write.parquet(append_path)
    union_path = os.path.join(work, "union")
    spark.read.parquet(base_path).unionByName(
        spark.read.parquet(append_path)
    ).write.parquet(union_path)

    # --- queries: fresh samples at the drifted modes ------------------
    q_rng = np.random.RandomState(13)
    queries_np: dict[float, np.ndarray] = {}
    q_rows = []
    qid = 0
    for d in DRIFTS:
        picks = q_rng.choice(MODES_PER_DRIFT, QUERIES_PER_DRIFT, replace=False)
        qs = drift_modes[d][picks] + q_rng.uniform(
            -MODE_NOISE, MODE_NOISE, (QUERIES_PER_DRIFT, DIMS)
        )
        queries_np[d] = np.arange(qid, qid + QUERIES_PER_DRIFT)
        for row in qs:
            q_rows.append((qid, [float(x) for x in row]))
            qid += 1
    queries = spark.createDataFrame(
        q_rows, "query_id long, embedding array<double>"
    ).cache()
    queries.count()

    # --- exact ground truth (numpy, the measurement harness side) ----
    corpus_rows = spark.read.parquet(union_path).collect()
    corpus_ids = np.array([r["vec_id"] for r in corpus_rows])
    corpus = np.array([r["embedding"] for r in corpus_rows])
    corpus_n = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q_emb = np.array([r[1] for r in q_rows])
    q_n = q_emb / np.linalg.norm(q_emb, axis=1, keepdims=True)
    sims = q_n @ corpus_n.T
    truth = {
        int(q_rows[i][0]): {
            int(corpus_ids[j]) for j in np.argsort(-sims[i])[:K]
        }
        for i in range(len(q_rows))
    }

    rec: dict[str, object] = {
        "n_base": N_BASE,
        "n_append": len(append_rows),
        "n_cells": N_CELLS,
        "dims": DIMS,
        "k": K,
        "n_probe": N_PROBE,
        "shortlist": SHORTLIST,
        "drifts": list(DRIFTS),
    }

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        rec[f"{name}_sec"] = round(time.perf_counter() - t0, 3)
        release_persisted()
        print(f"# {name}: {rec[f'{name}_sec']}s", file=sys.stderr)
        return out

    def recall_by_drift(
        root: str, n_probe: int, shortlist: int = SHORTLIST
    ) -> dict[str, float]:
        rows = query_ann_index(
            spark, ann_root_path(root), queries, k=K,
            n_probe=n_probe, shortlist=shortlist,
        ).collect()
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        out = {}
        for d in DRIFTS:
            hits = sum(
                len(got.get(int(q), set()) & truth[int(q)])
                for q in queries_np[d]
            )
            out[str(d)] = round(hits / (K * QUERIES_PER_DRIFT), 4)
        return out

    root = os.path.join(work, "index_root")
    if INIT == "lowest":
        timed(
            "bootstrap",
            lambda: run_ann_batch(
                spark, base_path, root, n_cells=N_CELLS,
            ),
        )
        append_stats = timed(
            "append",
            lambda: run_ann_batch(spark, append_path, root),
        )
        rec["append_mode"] = append_stats["mode"]
        rec["recall_pinned"] = timed(
            "query_pinned", lambda: recall_by_drift(root, N_PROBE)
        )
        rec["recall_pinned_2x_probe"] = timed(
            "query_pinned_2x", lambda: recall_by_drift(root, 2 * N_PROBE)
        )
        rec["recall_pinned_4x_shortlist"] = timed(
            "query_pinned_4x_short",
            lambda: recall_by_drift(root, N_PROBE, shortlist=4 * SHORTLIST),
        )
        # the productized monitor (ann_prep --probe-recall, r13)
        # against the same pinned store: its blended appended-cohort
        # recall should sit near the drift-mean of recall_pinned —
        # recording it here pins the product surface to the bench's
        # own measurement
        rec["probe_pinned"] = timed(
            "probe_pinned",
            lambda: probe_appended_recall(
                spark, ann_root_path(root),
                spark.read.parquet(append_path),
                n_sample=64, k=K, n_probe=N_PROBE, shortlist=SHORTLIST,
            ),
        )
    # the recluster: trained centroids (kmeans) over the union, cell
    # budget scaled so the appended modes can earn their own cells —
    # the deterministic first-K codebook would re-pick the OLDEST
    # vec_ids (all base) and recover nothing (measured before the
    # --kmeans-iters option existed: recall flat across the rebuild)
    rebuild_cells = N_CELLS + len(append_rows) // (2 * MEMBERS_PER_MODE)
    rec["rebuild_cells"] = rebuild_cells
    rebuild_stats = timed(
        "rebuild",
        lambda: run_ann_batch(
            spark, union_path, root, rebuild=True,
            n_cells=rebuild_cells, kmeans_iters=5, kmeans_init=INIT,
        ),
    )
    rec["rebuild_mode"] = rebuild_stats["mode"]
    rec["recall_rebuilt"] = timed(
        "query_rebuilt", lambda: recall_by_drift(root, N_PROBE)
    )
    rec["recall_rebuilt_4x_shortlist"] = timed(
        "query_rebuilt_4x_short",
        lambda: recall_by_drift(root, N_PROBE, shortlist=4 * SHORTLIST),
    )
    if INIT == "lowest":
        rec["probe_rebuilt"] = timed(
            "probe_rebuilt",
            lambda: probe_appended_recall(
                spark, ann_root_path(root),
                spark.read.parquet(append_path),
                n_sample=64, k=K, n_probe=N_PROBE, shortlist=SHORTLIST,
            ),
        )

    if INIT == "lowest":
        artifact = {"bench": "ann_recluster", "rec": rec}
        try:
            with open(artifact_path) as f:
                prev = json.load(f)
            if "spread_init_ab" in prev:
                artifact["spread_init_ab"] = prev["spread_init_ab"]
        except (OSError, json.JSONDecodeError):
            pass
    else:
        # spread arm: fold ONLY the rebuild-side numbers into the
        # standing artifact; the main (lowest-init) record and its
        # pinned-side measurements stay untouched
        with open(artifact_path) as f:
            artifact = json.load(f)
        artifact["spread_init_ab"] = {
            "note": (
                "identical fixture, rebuild-only re-run with kmeans "
                "init='spread' (SPARK_GRAFT_RECL_INIT=spread; the "
                "pinned side is init-independent) — r13 re-measure "
                "after the hash-order selection fix in clustering.py"
            ),
            "rebuild_sec": rec["rebuild_sec"],
            "recall_rebuilt": rec["recall_rebuilt"],
            "recall_rebuilt_4x_shortlist": rec[
                "recall_rebuilt_4x_shortlist"
            ],
        }
    print(json.dumps(artifact))
    with open(artifact_path, "w") as f:
        json.dump(artifact, f, indent=1)


if __name__ == "__main__":
    main()
