"""sf100 scaling bench — the FOURTH measured decade (sf0.1 -> sf1 ->
sf10 -> sf100, 1000x the driver fixture), closing VERDICT r6's "no
sf100 point" gap as far as a single 32-thread host can.

Spark-only by default: the point of this decade is the ENGINE's
scaling shape (linearity per decade against BENCH_SF10.md's sf10
numbers), not another engine-vs-engine ratio — DuckDB's oracle
formulations already DNF at sf10 for the headline dedup ops. Set
SPARK_GRAFT_SF100_DUCK=1 to run oracle twins under the sf10 bench's
subprocess-timeout protocol anyway.

Ops default to document/event operators whose sf100 inputs
make_sf100.py generates (2 GB on disk); RUNS=1 (each op is minutes,
not milliseconds — startup noise is irrelevant at this scale).

Usage:
  python3 scripts/make_sf100.py
  SPARK_GRAFT_DRIVER_MEM=64g python3 scripts/bench_sf100.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF100 = os.environ.get("SPARK_GRAFT_SF100_DIR", "/root/repo/.localdata/sf100")
RUNS = int(os.environ.get("SPARK_GRAFT_SF100_RUNS", "1"))
BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "3600"))

OPS = [
    "events_heavy_hitters",
    "text_token_rarity",
    "dedup_line_boilerplate",
    "dedup_exact_substring",
    "dedup_lsh_verified_pairs",
]

_ONLY = os.environ.get("SPARK_GRAFT_SF100_OPS")
if _ONLY:
    OPS = [x.strip() for x in _ONLY.split(",") if x.strip()]


def main() -> None:
    from flink_exercise_spark import registry
    from flink_exercise_spark.session import get_spark, local_cores

    spark = get_spark(
        app_name="bench-sf100",
        master=f"local[{local_cores()}]",
        conf={
            # Work-sized partitions (bench_sf10 rationale, one more
            # decade): 100M-row events / 5M-doc gram explodes need
            # enough partitions that a task's shuffle block fits in
            # memory; AQE coalesces the small side back down.
            "spark.sql.shuffle.partitions": os.environ.get(
                "SPARK_GRAFT_SHUFFLE", "96"
            ),
            "spark.sql.adaptive.enabled": os.environ.get(
                "SPARK_GRAFT_AQE", "true"
            ),
            "spark.default.parallelism": os.environ.get(
                "SPARK_GRAFT_DP", "32"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    specs = registry.specs()
    start = time.perf_counter()
    out: dict[str, dict] = {}
    for name in OPS:
        if time.perf_counter() - start > BUDGET:
            out[name] = {"sf100": None, "note": "budget exhausted"}
            continue
        try:
            runs = []
            n = -1
            for _ in range(RUNS):
                t0 = time.perf_counter()
                from bench import materialize

                n = materialize(specs[name].fn(spark, SF100))
                runs.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
            out[name] = {"sf100": round(min(runs), 3), "rows": n}
            print(
                f"# spark sf100 {name}: {out[name]['sf100']:.1f}s"
                f" ({n} rows)",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001
            out[name] = {"sf100": -1.0, "error": str(exc)[:300]}
            print(f"# spark sf100 {name}: FAILED {exc}", file=sys.stderr)
        finally:
            spark.catalog.clearCache()
    spark.stop()
    print(json.dumps({"sf": 100, "cpus": local_cores(), "ops": out}))


if __name__ == "__main__":
    main()
