"""sf1 scaling bench: run every oracle-checked registry query on Spark
AND its DuckDB oracle twin over the identical sf1 parquet files
(scripts/make_sf1.py), and report per-query + total wall clock for
both engines.

Purpose (VERDICT r2 #7): the sf0.1 matched-subset ratio is dominated by
Spark's fixed per-job cost on sub-second queries; this run measures
whether that overhead amortizes at 10x the data, on a real execution
rather than the synthetic-replication extrapolation in
BENCH_BASELINE.md. Both engines use all cores (DuckDB's default; Spark
local[32] with the same local-measurement conf as bench.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/root/repo/.localdata/sf1")
RUNS = int(os.environ.get("SPARK_GRAFT_SF1_RUNS", "2"))
BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1200"))


def spark_side() -> dict[str, float]:
    from flink_exercise_spark import registry
    from flink_exercise_spark.session import get_spark, local_cores

    spark = get_spark(
        app_name="bench-sf1",
        master=f"local[{local_cores()}]",
        conf={
            "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "16"),
            "spark.sql.adaptive.enabled": os.environ.get("SPARK_GRAFT_AQE", "false"),
            "spark.default.parallelism": os.environ.get("SPARK_GRAFT_DP", "16"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    specs = registry.specs()
    start = time.perf_counter()
    out: dict[str, float] = {}
    for name, spec in specs.items():
        if spec.oracle is None:
            continue
        try:
            runs = []
            for _ in range(RUNS):
                t0 = time.perf_counter()
                from bench import materialize

                n = materialize(spec.fn(spark, SF1))
                runs.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
                if time.perf_counter() - start > BUDGET:
                    break
            out[name] = round(min(runs), 4)
            print(f"# spark {name}: {out[name]:.3f}s ({n} rows)", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            out[name] = -1.0
            print(f"# spark {name}: FAILED {exc}", file=sys.stderr)
        finally:
            spark.catalog.clearCache()
    spark.stop()
    return out


def duckdb_side(names: list[str]) -> dict[str, float]:
    import duckdb

    from flink_exercise_spark import registry

    oracles = registry.oracles()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF1}/{t}.parquet')"
        )
    start = time.perf_counter()
    out: dict[str, float] = {}
    for name in names:
        sql = oracles.get(name)
        if sql is None:
            continue
        try:
            runs = []
            for _ in range(RUNS):
                t0 = time.perf_counter()
                n = len(con.execute(sql).fetchall())
                runs.append(time.perf_counter() - t0)
                if time.perf_counter() - start > BUDGET:
                    break
            out[name] = round(min(runs), 4)
            print(f"# duck  {name}: {out[name]:.3f}s ({n} rows)", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            out[name] = -1.0
            print(f"# duck  {name}: FAILED {exc}", file=sys.stderr)
    return out


def main() -> None:
    if not os.path.isdir(SF1):
        print(f"missing {SF1}; run scripts/make_sf1.py first", file=sys.stderr)
        sys.exit(1)
    spark_t = spark_side()
    duck_t = duckdb_side([n for n in spark_t])
    both = [n for n in spark_t if spark_t[n] >= 0 and duck_t.get(n, -1) >= 0]
    st = sum(spark_t[n] for n in both)
    dt = sum(duck_t[n] for n in both)
    print(json.dumps({
        "metric": "sf1_oracle_subset_wall_clock",
        "sf": 1.0,
        "n_queries": len(both),
        "spark_total_sec": round(st, 3),
        "duckdb_total_sec": round(dt, 3),
        "ratio": round(st / dt, 3) if dt else None,
        "spark": spark_t,
        "duckdb": duck_t,
    }))


if __name__ == "__main__":
    main()
