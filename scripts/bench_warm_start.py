"""Warm-start streaming-ingest scaling record (VERDICT r10 ask #6):
the streaming twin of bench_incremental_scaling.py. The claim to
measure: a warm-started ingest job's cost is O(increment + INDEX),
not O(history TEXT) — the stream-static probe folds the archive's
verdicts into state without ever re-shingling or re-hashing history
documents, so a FIXED-SIZE increment costs ~the same whether the
archive behind the index is one decade or three.

Protocol per corpus scale (documents fixture decades):
1. history = all but the top-2000 doc_ids; increment = those 2000
   (FIXED across decades — the growth axis is the ARCHIVE only).
2. Build + persist the fingerprint + band index halves from history
   (one-time, amortized; reported separately with on-disk bytes).
3. WARM: stream the increment (parquet source, availableNow) through
   warm_start_ingest_dedup against the STORED index halves and
   materialize the verdicts — the recurring daily cost.
4. COLD TWIN: the same streaming job over history ∪ increment with
   EMPTY indexes — what a restart pays without the archive (state
   rebuilt by re-streaming every history document).

Timed steps run twice, MIN reported (the BENCH_SF10 warm-up
convention). Usage:
  python scripts/make_sf1.py && python scripts/make_sf10.py
  SPARK_GRAFT_DRIVER_MEM=64g python scripts/bench_warm_start.py
  SPARK_GRAFT_WARM_SFS=0.1,1    # subset (default "0.1,1,10")
  SPARK_GRAFT_WARM_SKIP_COLD=1  # warm-only
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
    for s in os.environ.get("SPARK_GRAFT_WARM_SFS", "0.1,1,10").split(",")
]
N_INCREMENT = int(os.environ.get("SPARK_GRAFT_WARM_INC", "2000"))
SKIP_COLD = os.environ.get("SPARK_GRAFT_WARM_SKIP_COLD", "0") == "1"


def main() -> None:
    from pyspark.sql import functions as F

    from bench import materialize
    from flink_exercise_spark.caching import release_persisted
    from flink_exercise_spark.operators.incremental import (
        band_index,
        fingerprint_index,
        read_band_index,
        write_band_index,
        write_fingerprint_index,
    )
    from flink_exercise_spark.session import get_spark, local_cores
    from flink_exercise_spark.sources.tables import load_table
    from flink_exercise_spark.streaming.ingest import warm_start_ingest_dedup

    os.environ.setdefault("SPARK_GRAFT_STREAM_TIMEOUT", "3600")
    spark = get_spark(
        app_name="bench-warm-start",
        master=f"local[{local_cores()}]",
        conf={
            "spark.sql.shuffle.partitions": os.environ.get(
                "SPARK_GRAFT_SHUFFLE", "96"
            ),
            "spark.sql.adaptive.enabled": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    def dir_bytes(p):
        return sum(
            os.path.getsize(os.path.join(root, x))
            for root, _, xs in os.walk(p)
            for x in xs
            if x.endswith(".parquet")
        )

    out: dict[str, dict] = {}
    run_id = 0
    for sf in SFS:
        sf_dir = (
            f"/root/testdata/sf{sf}"
            if os.path.exists(f"/root/testdata/sf{sf}")
            else f"/root/repo/.localdata/sf{sf}"
        )
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        ids = sorted(r[0] for r in docs.select("doc_id").collect())
        cutoff = ids[-N_INCREMENT]
        history = docs.filter(F.col("doc_id") < cutoff)
        increment = docs.filter(F.col("doc_id") >= cutoff)
        rec: dict[str, object] = {
            "n_history": len(ids) - N_INCREMENT,
            "n_increment": N_INCREMENT,
        }

        def timed_min2(fn):
            vals, res = [], None
            for _ in range(2):
                t0 = time.perf_counter()
                res = fn()
                vals.append(time.perf_counter() - t0)
                release_persisted()
                spark.catalog.clearCache()
            return round(min(vals), 3), res

        tmp = tempfile.mkdtemp(prefix=f"warm_sf{sf}_")
        try:
            def build():
                shutil.rmtree(f"{tmp}/fp", ignore_errors=True)
                shutil.rmtree(f"{tmp}/bands", ignore_errors=True)
                write_fingerprint_index(history, f"{tmp}/fp")
                write_band_index(history, f"{tmp}/bands")

            rec["index_build_sec"], _ = timed_min2(build)
            rec["index_bytes"] = dir_bytes(tmp)
            fp_idx = spark.read.parquet(f"{tmp}/fp")
            band_idx = read_band_index(spark, f"{tmp}/bands")
            rec["fp_index_rows"] = fp_idx.count()

            inc_src = f"{tmp}/inc_stream"
            increment.write.mode("overwrite").parquet(inc_src)

            def warm():
                nonlocal run_id
                run_id += 1
                stream = spark.readStream.schema(
                    "doc_id long, text string"
                ).parquet(inc_src)
                return materialize(
                    warm_start_ingest_dedup(
                        stream, increment, fp_idx, band_idx,
                        name_prefix=f"warm_{sf}_{run_id}".replace(".", "_"),
                    )
                )

            rec["warm_sec"], n = timed_min2(warm)
            rec["verdict_rows"] = n

            if not SKIP_COLD:
                full_src = f"{tmp}/full_stream"
                docs.write.mode("overwrite").parquet(full_src)
                empty = docs.limit(0)

                def cold():
                    nonlocal run_id
                    run_id += 1
                    stream = spark.readStream.schema(
                        "doc_id long, text string"
                    ).parquet(full_src)
                    return materialize(
                        warm_start_ingest_dedup(
                            stream,
                            docs,
                            fingerprint_index(empty),
                            band_index(empty),
                            name_prefix=f"cold_{sf}_{run_id}".replace(
                                ".", "_"
                            ),
                        )
                    )

                rec["cold_restream_sec"], n_cold = timed_min2(cold)
                rec["cold_verdict_rows"] = n_cold
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

        out[f"sf{sf}"] = rec
        print(f"# sf{sf}: {rec}", file=sys.stderr)

    spark.stop()
    print(json.dumps({"bench": "warm_start_scaling", "ops": out}))


if __name__ == "__main__":
    main()
