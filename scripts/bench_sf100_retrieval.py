"""sf100 scaling record for the retrieval family (VERDICT r7 ask #7).

Two measurements, separating the two cost factors the sf10 record
documented for text_bm25_topk:

1. FIXED-QUERY-COUNT decade (the production-audit shape): bm25_topk
   over the sf100 corpus (5M docs) with a 5k-query set (doc_id %
   1000 == 0 — the SAME query count the sf10 registered run had at
   step=100 over 500k docs), so the sf10 -> sf100 ratio isolates
   corpus growth: postings build + per-term posting-list scoring,
   expected ~linear.
2. The REGISTERED form (query set grows with the corpus: step=100 ->
   50k queries at sf100), opt-in via SPARK_GRAFT_BM25_REGISTERED=1
   (default skip; expect a multi-hour run — there is NO internal
   timeout, so budget the session accordingly) — its cost model is
   Sum_query-terms df(term), growth on BOTH factors, documented in
   BENCH_SF10.md; the fixed-query row above is the honest decade.

retrieval_hybrid_rrf uses its registered FIXED 10-query set as-is.

Usage: SPARK_GRAFT_DRIVER_MEM=64g python scripts/bench_sf100_retrieval.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF100 = os.environ.get("SPARK_GRAFT_SF100_DIR", "/root/repo/.localdata/sf100")
RUN_REGISTERED = os.environ.get("SPARK_GRAFT_BM25_REGISTERED", "0") == "1"


def main() -> None:
    from flink_exercise_spark import registry
    from flink_exercise_spark.caching import release_persisted
    from flink_exercise_spark.operators.retrieval import (
        bm25_topk,
        corpus_queries,
    )
    from flink_exercise_spark.session import get_spark, local_cores
    from flink_exercise_spark.sources.tables import load_table
    from bench import materialize

    spark = get_spark(
        app_name="bench-sf100-retrieval",
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

    # 1. bm25, fixed 5k-query set (step=1000 at sf100 == sf10's count)
    t0 = time.perf_counter()
    docs = load_table(spark, SF100, "documents")
    n = materialize(
        bm25_topk(
            docs,
            corpus_queries(docs, step=1000, cap=5000),
            exclude_self=True,
        )
    )
    out["bm25_fixed_5k_queries"] = {
        "sf100": round(time.perf_counter() - t0, 3),
        "rows": n,
        "queries": "doc_id % 1000 == 0 (5k, = sf10 registered count)",
    }
    print(f"# bm25 fixed-5k: {out['bm25_fixed_5k_queries']}", file=sys.stderr)
    release_persisted()
    spark.catalog.clearCache()

    # 2. registered hybrid RRF (fixed 10-query set by construction)
    specs = registry.specs()
    t0 = time.perf_counter()
    n = materialize(specs["retrieval_hybrid_rrf"].fn(spark, SF100))
    out["retrieval_hybrid_rrf"] = {
        "sf100": round(time.perf_counter() - t0, 3),
        "rows": n,
    }
    print(f"# rrf: {out['retrieval_hybrid_rrf']}", file=sys.stderr)
    release_persisted()
    spark.catalog.clearCache()

    # 3. optional: the registered bm25 form (50k growing query set;
    # unbounded — see module docstring)
    if RUN_REGISTERED:
        t0 = time.perf_counter()
        try:
            n = materialize(specs["text_bm25_topk"].fn(spark, SF100))
            out["text_bm25_topk_registered"] = {
                "sf100": round(time.perf_counter() - t0, 3),
                "rows": n,
            }
        except Exception as exc:  # noqa: BLE001
            out["text_bm25_topk_registered"] = {
                "sf100": -1.0,
                "error": str(exc)[:200],
            }
        print(
            f"# bm25 registered: {out['text_bm25_topk_registered']}",
            file=sys.stderr,
        )

    spark.stop()
    print(json.dumps({"sf": 100, "ops": out}))


if __name__ == "__main__":
    main()
