"""Partition-scoped MERGE vs whole-table rewrite over the events table
of whatever fixture SPARK_GRAFT_SF10_DIR points at (default the sf10
one; the BENCH_SF100.md row pointed it at .localdata/sf100).

The claim under test (layout.merge_upsert): a CDC batch confined to one
day of a day-partitioned table should cost the TOUCHED partition, not
the table — the anti-join scan partition-prunes and dynamic overwrite
rewrites one directory. Two table builds from the same rows: the
day-partitioned layout for the scoped path, and an UNPARTITIONED flat
twin for the whole-table path (the honest comparison: the flat layout
IS what merge_upsert's docstring reserves whole-table rewrites for —
the headline therefore measures path + its natural layout together,
stated as such in the record). One JSON line with wall-clocks and the
ratio; the sf label is derived from the fixture dir.

Usage: SPARK_GRAFT_DRIVER_MEM=64g python scripts/bench_merge_upsert.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF10 = os.environ.get("SPARK_GRAFT_SF10_DIR", "/root/repo/.localdata/sf10")
WORK = os.environ.get(
    "SPARK_GRAFT_MERGE_WORK", "/root/repo/.localdata/merge_bench"
)


def main() -> None:
    from pyspark.sql import functions as F

    from flink_exercise_spark.operators.layout import merge_upsert
    from flink_exercise_spark.session import get_spark, local_cores
    from flink_exercise_spark.sources.tables import load_table

    spark = get_spark(
        app_name="bench-merge-upsert",
        master=f"local[{local_cores()}]",
        conf={
            "spark.sql.shuffle.partitions": os.environ.get(
                "SPARK_GRAFT_SHUFFLE", "96"
            ),
            "spark.sql.adaptive.enabled": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ev = load_table(spark, SF10, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    out: dict = {}

    def build(path: str) -> None:
        ev.write.mode("overwrite").partitionBy("day").parquet(path)

    some_day = ev.select(F.min("day")).first()[0]
    updates = (
        ev.filter(F.col("day") == some_day)
        .limit(1000)
        .withColumn("value", F.col("value") + 1000.0)
    ).localCheckpoint()
    n_days = ev.select("day").distinct().count()
    out["table_rows"] = ev.count()
    out["n_partitions"] = n_days
    out["update_rows"] = updates.count()

    p1 = os.path.join(WORK, "scoped")
    build(p1)
    t0 = time.perf_counter()
    res = merge_upsert(spark, p1, updates, "event_id", partition_col="day")
    out["partition_scoped_s"] = round(time.perf_counter() - t0, 3)
    out["partitions_rewritten"] = res["partitions_rewritten"]

    # the unpartitioned twin: same rows, flat layout — the whole-table
    # rewrite the docstring reserves for small tables
    p2 = os.path.join(WORK, "full")
    ev.write.mode("overwrite").parquet(p2)
    t0 = time.perf_counter()
    merge_upsert(spark, p2, updates, "event_id")
    out["full_rewrite_s"] = round(time.perf_counter() - t0, 3)

    out["speedup"] = round(
        out["full_rewrite_s"] / out["partition_scoped_s"], 2
    )
    spark.stop()
    shutil.rmtree(WORK, ignore_errors=True)
    # label from the fixture dir, not a literal — this script has been
    # pointed at sf100 (BENCH_SF100.md) and a hardcoded 10 would
    # mislabel that record (code-review r8)
    tag = SF10.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(tag) if tag.replace(".", "").isdigit() else tag
    print(json.dumps({"sf": sf, "merge_upsert": out}))


if __name__ == "__main__":
    main()
