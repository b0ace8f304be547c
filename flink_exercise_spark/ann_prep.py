"""ANN-index lifecycle CLI: the persisted vector store as a runnable
daily-batch tool (VERDICT r10 ask #7 — the deployed entry point the
text-dedup archive got via ``prep.py --index-path``).

    python -m flink_exercise_spark.ann_prep \\
        --input /data/new_embeddings --index /data/ann_root \\
        [--rebuild] [--kmeans-iters 5] [--kmeans-init lowest] \\
        [--queries /data/queries --output /data/results --k 5] \\
        [--probe-recall [--probe-sample 64] [--probe-threshold 0.8]] \\
        [--vacuum-keep 2] [--n-cells 64] [--m 8] [--n-codes 16] \\
        [--cores 8]

``--index`` names an index ROOT: immutable index versions
(v00000001/, ...) under an atomic ``_CURRENT`` pointer
(operators/ann_store.py's deployment layer). Day 1 (no pointer yet)
BOOTSTRAPS v1 from the input; later runs APPEND to the live version —
new vectors assign against its PINNED centroids, land via the
partition-scoped versioned merge (only touched cell directories
rewrite, replays idempotent), and a vector that moved cells fails
loud. ``--rebuild`` is that failure's remedy and the periodic
recluster: a whole new index version (fresh centroids + books) built
from --input and published in one pointer swap, old version kept for
pinned readers until ``--vacuum-keep`` reclaims it (which also runs
the per-sub-store retention GC on the live version).

``--probe-recall`` runs the recall-decay monitor after the batch
commits (ann_store.probe_appended_recall — the SCALE.md recluster
decision rule as a product surface): it samples the just-ingested
batch, computes exact ground truth for the sample over the full float
store, queries the live index at the deployment settings, and adds a
``probe`` block to the JSON summary with ``recall`` and
``rebuild_recommended`` (true when recall < --probe-threshold; the
remedy is ``--rebuild --kmeans-iters N``, the measured recovery in
BENCH_ANN_RECLUSTER.json).

``--queries`` answers a (query_id, embedding) parquet against the
post-commit live version and writes (query_id, neighbor_id, cosine,
rank) parquet. Inputs are parquet with (vec_id long, embedding
array<double>); every vector in --input enters the store. Prints ONE
JSON summary line. Everything is a thin arrangement of the
already-pinned operators — the bit-identical Arrow kernels
(assignment + encode) are on, as a deployment would run them.
"""

from __future__ import annotations

import argparse
import json
import sys


def run_ann_batch(
    spark,
    input_path: str,
    index_root: str,
    rebuild: bool = False,
    queries_path: str | None = None,
    output_path: str | None = None,
    k: int = 5,
    n_probe: int = 2,
    shortlist: int | None = None,
    n_cells: int = 64,
    m: int = 8,
    n_codes: int = 16,
    vacuum_keep: int | None = None,
    kmeans_iters: int = 0,
    kmeans_init: str = "lowest",
    probe_recall: bool = False,
    probe_sample: int = 64,
    probe_threshold: float = 0.8,
) -> dict:
    """One daily batch: bootstrap-or-append (or an explicit rebuild),
    optional query run, optional vacuum. Returns the summary dict the
    CLI prints.

    ``kmeans_iters`` > 0 makes a bootstrap/rebuild train the coarse
    codebook with Lloyd k-means over --input instead of the
    deterministic first-``n_cells``-vectors init. The deterministic
    codebook can never RE-cluster: it picks the lowest vec_ids, which
    after months of appends are the oldest data — a rebuild meant to
    adapt to drifted appends would pin centroids to exactly the
    distribution being drifted away from (measured: recall stuck at
    its decayed level across a --rebuild, BENCH_ANN_RECLUSTER.json).
    Trained centroids are the recluster; the default stays 0 so
    existing bootstraps remain byte-reproducible."""
    from flink_exercise_spark.operators.ann_store import (
        ann_root_current,
        ann_root_path,
        append_ann_index,
        probe_appended_recall,
        query_ann_index,
        rebuild_ann_index,
        vacuum_ann_index,
        vacuum_ann_root,
    )

    emb = spark.read.parquet(input_path).select("vec_id", "embedding")
    summary: dict = {"index_root": index_root, "input": input_path}
    cur = ann_root_current(index_root)
    # Deployment split: every --input vector is corpus (no fixture
    # query rows), declared ONCE and passed to rebuild_ann_index so
    # the codebook-training input and the write split can never
    # diverge — training on rows the write keeps out of the store
    # would leak query vectors into the model that is then
    # recall-benchmarked against those same queries (ADVICE r12).
    n_queries = 0
    if cur is None or rebuild:
        codebook = None
        if kmeans_iters > 0:
            from flink_exercise_spark.operators.clustering import (
                kmeans_centroids,
            )

            # default 'lowest' init, MEASURED not assumed: the
            # intuitive alternative ('spread' — seed proportionally
            # across the id range so appended modes get seeds) was
            # A/B'd on the drifted-append experiment (re-run in r13
            # after the r12 spread selection bias was fixed,
            # scripts/bench_ann_recluster.py SPARK_GRAFT_RECL_INIT)
            # and 'lowest' stays the default per that record; 'spread'
            # is exposed here for corpora where appended data
            # dominates the row count. SCALE.md addendum.
            # trains on emb DIRECTLY because n_queries=0 above means
            # every input row enters the store — training input ==
            # stored corpus by construction, no filter arm to diverge
            # (ADVICE r12 / code-review r13: a conditional filter on
            # a literal 0 was dead code dressed as configurability)
            codebook = kmeans_centroids(
                emb, k=n_cells, iters=kmeans_iters, init=kmeans_init
            )
            summary["kmeans_iters"] = kmeans_iters
            summary["kmeans_init"] = kmeans_init
        res = rebuild_ann_index(
            spark,
            index_root,
            emb,
            n_queries=n_queries,
            n_cells=n_cells,
            m=m,
            n_codes=n_codes,
            codebook=codebook,
            assign_kernel=True,
            encode_kernel=True,
        )
        summary["mode"] = "bootstrap" if cur is None else "rebuild"
        summary["index_version"] = res["version"]
        summary["n_corpus"] = res["n_corpus"]
    else:
        if kmeans_iters > 0:
            # an append NEVER retrains (pinned models are the append
            # contract) — dropping the option silently would leave the
            # operator believing a recluster happened
            raise ValueError(
                "--kmeans-iters only applies to a bootstrap or "
                "--rebuild; an append assigns against the live "
                "version's PINNED models. Pass --rebuild to recluster."
            )
        stats = append_ann_index(
            spark, ann_root_path(index_root), emb,
            assign_kernel=True, encode_kernel=True,
        )
        summary["mode"] = "append"
        summary["index_version"] = cur
        summary.update(stats)
    live = ann_root_path(index_root)
    if probe_recall:
        # the recall-decay monitor (SCALE.md decision rule): probe the
        # batch just ingested against the post-commit live version at
        # the SAME read settings the --queries path uses, so the
        # reported recall is the number a deployment's own queries
        # will see; "probe" carries recall + rebuild_recommended
        summary["probe"] = probe_appended_recall(
            spark, live, emb,
            n_sample=probe_sample,
            k=k,
            n_probe=n_probe,
            # None falls through to the read path's own default inside
            # the probe — never restate it here (code-review r13)
            shortlist=shortlist,
            threshold=probe_threshold,
        )
    if queries_path:
        if not output_path:
            raise ValueError("--queries requires --output")
        queries = spark.read.parquet(queries_path).select(
            "query_id", "embedding"
        )
        result = query_ann_index(
            spark, live, queries, k=k, n_probe=n_probe,
            shortlist=shortlist,
        )
        result.write.mode("overwrite").parquet(output_path)
        summary["n_result_rows"] = spark.read.parquet(output_path).count()
        summary["output"] = output_path
    if vacuum_keep is not None:
        summary["vacuum"] = vacuum_ann_index(live, vacuum_keep)
        summary["vacuum_root"] = vacuum_ann_root(index_root, vacuum_keep)
    return summary


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m flink_exercise_spark.ann_prep",
        description="persisted ANN index: bootstrap/append/rebuild/"
                    "query/vacuum",
    )
    ap.add_argument("--input", required=True,
                    help="parquet dir of (vec_id, embedding) to ingest")
    ap.add_argument("--index", required=True,
                    help="index ROOT directory (versions + _CURRENT)")
    ap.add_argument("--rebuild", action="store_true",
                    help="recluster: build a fresh index version from "
                         "--input and swap the pointer")
    ap.add_argument("--queries",
                    help="parquet dir of (query_id, embedding) to answer")
    ap.add_argument("--output", help="parquet dir for query results")
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--n-probe", type=int, default=2)
    ap.add_argument("--shortlist", type=int, default=None)
    ap.add_argument("--n-cells", type=int, default=64,
                    help="coarse cells (bootstrap/rebuild only)")
    ap.add_argument("--m", type=int, default=8,
                    help="PQ subspaces (bootstrap/rebuild only)")
    ap.add_argument("--n-codes", type=int, default=16,
                    help="PQ codewords per subspace (bootstrap/rebuild)")
    ap.add_argument("--kmeans-iters", type=int, default=0,
                    help="train the coarse codebook with this many "
                         "Lloyd iterations on bootstrap/rebuild "
                         "(0 = deterministic first-K init; training "
                         "is what makes --rebuild a RE-cluster)")
    ap.add_argument("--kmeans-init", default="lowest",
                    choices=("lowest", "spread"),
                    help="k-means seed selection for --kmeans-iters: "
                         "'lowest' (default, measured best on the "
                         "drifted-append record) or 'spread' "
                         "(hash-uniform over the id range)")
    ap.add_argument("--probe-recall", action="store_true",
                    help="recall-decay monitor: sample the ingested "
                         "batch, compute exact ground truth on the "
                         "sample over the full float store (self "
                         "excluded), query the live index at the "
                         "--k/--n-probe/--shortlist settings, and "
                         "emit a 'probe' block in the JSON summary: "
                         "{n_sample, k, n_probe, shortlist, recall, "
                         "threshold, rebuild_recommended} — "
                         "rebuild_recommended=true means recall fell "
                         "under --probe-threshold and a --rebuild "
                         "with --kmeans-iters is due (the measured "
                         "decision rule, BENCH_ANN_RECLUSTER.json)")
    ap.add_argument("--probe-sample", type=int, default=64,
                    help="probe sample size (deterministic "
                         "xxhash64-ordered draw from the batch)")
    ap.add_argument("--probe-threshold", type=float, default=0.8,
                    help="recall floor under which the probe "
                         "recommends a rebuild")
    ap.add_argument("--vacuum-keep", type=int, default=None,
                    help="retention GC: keep this many sub-store "
                         "snapshots AND index versions")
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args(argv)
    if args.queries and not args.output:
        ap.error("--queries requires --output")

    from flink_exercise_spark.session import get_spark

    spark = get_spark(
        app_name="ann-prep",
        master=f"local[{args.cores}]",
        conf={"spark.sql.shuffle.partitions": str(max(args.cores, 4))},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        summary = run_ann_batch(
            spark,
            input_path=args.input,
            index_root=args.index,
            rebuild=args.rebuild,
            queries_path=args.queries,
            output_path=args.output,
            k=args.k,
            n_probe=args.n_probe,
            shortlist=args.shortlist,
            n_cells=args.n_cells,
            m=args.m,
            n_codes=args.n_codes,
            vacuum_keep=args.vacuum_keep,
            kmeans_iters=args.kmeans_iters,
            kmeans_init=args.kmeans_init,
            probe_recall=args.probe_recall,
            probe_sample=args.probe_sample,
            probe_threshold=args.probe_threshold,
        )
    finally:
        spark.stop()
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
