"""Scaling record for incremental cross-snapshot dedup: the point of
the persisted index is that a daily increment costs O(increment +
index), not O(corpus) — measure exactly that against the full-batch
recompute at sf10 / sf100.

Protocol per sf (documents corpus; the top 1/50 of the doc_id VALUE
RANGE plays the "daily increment", the rest is "history" — note the
fixture id space is sparse, so the resulting DOCUMENT fraction varies
by sf: 10% at sf1, 2% at sf10/sf100; the reported n_history /
n_increment counts are the ground truth, not the 1/50 knob):

1. BUILD + PERSIST the index from history (one-time; amortized over
   every future increment — reported separately, the merge_upsert /
   compression-encode convention), with the on-disk index bytes (the
   state the increment pays to keep instead of the corpus).
2. INCREMENTAL: classify the increment against the STORED index
   (read_band_index / parquet fingerprint read — the production
   shape; history text untouched) and materialize the verdicts.
3. FULL-BATCH TWIN: recompute verdicts from scratch over history ∪
   increment (the banded nearmin + exact first-arrival construction
   the oracle states) and materialize the same increment-sized
   output.

The claim to check: (2) stays ~flat as the corpus grows 10x while
(3) grows with the corpus — the gap IS the reason the index exists.

Timed steps run twice and report the MIN (the BENCH_SF10 min-of-2
convention: first executions carry codegen/JIT warm-up that polluted
the single-shot protocol by 5x at sf1).

Usage:
  SPARK_GRAFT_DRIVER_MEM=64g python scripts/bench_incremental_scaling.py
  SPARK_GRAFT_INC_SFS=10      # subset (default "10,100")
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
    for s in os.environ.get("SPARK_GRAFT_INC_SFS", "10,100").split(",")
]
INC_FRAC = 50  # increment = top 1/50 of the doc_id VALUE RANGE (see docstring)


def main() -> None:
    from pyspark.sql import functions as F

    from bench import materialize
    from flink_exercise_spark.caching import release_persisted
    from flink_exercise_spark.operators.incremental import (
        band_index,
        fingerprint_index,
        incremental_dedup,
        read_band_index,
    )
    from flink_exercise_spark.session import get_spark, local_cores
    from flink_exercise_spark.sources.tables import load_table

    spark = get_spark(
        app_name="bench-incremental-scaling",
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
        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg(F.max("doc_id")).first()[0]
        split = int(max_id * (INC_FRAC - 1) / INC_FRAC)
        history = docs.filter(F.col("doc_id") < split)
        increment = docs.filter(F.col("doc_id") >= split)
        rec: dict[str, object] = {
            "n_history": history.count(),
            "n_increment": increment.count(),
        }

        def timed_min2(fn):
            vals = []
            for _ in range(2):
                t0 = time.perf_counter()
                res = fn()
                vals.append(time.perf_counter() - t0)
                release_persisted()
                spark.catalog.clearCache()
            return round(min(vals), 3), res

        def dir_bytes(p):
            return sum(
                os.path.getsize(os.path.join(root, x))
                for root, _, xs in os.walk(p)
                for x in xs
                if x.endswith(".parquet")
            )

        tmp = tempfile.mkdtemp(prefix=f"inc_idx_sf{sf}_")
        try:
            # 1. one-time index build + persist
            def build():
                fingerprint_index(history).write.mode(
                    "overwrite"
                ).parquet(f"{tmp}/fp")
                band_index(history).write.mode("overwrite").parquet(
                    f"{tmp}/bands"
                )
                return None

            rec["index_build_sec"], _ = timed_min2(build)
            rec["index_bytes"] = dir_bytes(tmp)

            # 2. increment vs STORED index
            rec["incremental_sec"], n = timed_min2(
                lambda: materialize(
                    incremental_dedup(
                        increment,
                        spark.read.parquet(f"{tmp}/fp"),
                        read_band_index(spark, f"{tmp}/bands"),
                    )
                )
            )
            rec["verdict_rows"] = n
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

        # 3. full-batch twin: indexes rebuilt from history IN the
        # same plan (no stored state — what you pay without the index)
        rec["full_recompute_sec"], n = timed_min2(
            lambda: materialize(
                incremental_dedup(
                    increment,
                    fingerprint_index(history),
                    band_index(history),
                )
            )
        )
        assert n == rec["verdict_rows"]

        out[f"sf{sf}"] = rec
        print(f"# sf{sf}: {rec}", file=sys.stderr)

    spark.stop()
    print(json.dumps({"bench": "incremental_scaling", "ops": out}))


if __name__ == "__main__":
    main()
