"""Plain-parquet table maintenance (operators/layout.py): merge_upsert
semantics, partition-scoped rewrites and the duplicate-key guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# --- merge / upsert maintenance job ------------------------------------------


def test_merge_upsert_unpartitioned(spark, tmp_path):
    from flink_exercise_spark.operators.layout import merge_upsert

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    ).write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "B2"), (4, "d")], "id long, v string"
    )
    res = merge_upsert(spark, path, updates, "id")
    assert res["rows_upserted"] == 2 and res["rows_after"] == 4
    got = {
        (r["id"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    # key 2 replaced, key 4 inserted, keys 1/3 survive
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}


def test_merge_upsert_rejects_duplicate_keyed_updates(spark, tmp_path):
    from flink_exercise_spark.operators.layout import merge_upsert

    path = str(tmp_path / "tbl_dup")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(
        path
    )
    dup = spark.createDataFrame(
        [(1, "x"), (1, "y")], "id long, v string"
    )
    with pytest.raises(ValueError, match="key-unique"):
        merge_upsert(spark, path, dup, "id")


def test_merge_upsert_partitioned_rewrites_only_touched(spark, tmp_path):
    """The 100 TB form: a CDC batch touching one day rewrites that
    day's directory only — the untouched partition's data FILES are
    byte-identical afterward (same names, same mtimes), and the
    anti-join scan is partition-pruned."""
    import os as _os

    from flink_exercise_spark.operators.layout import merge_upsert

    path = str(tmp_path / "daily")
    spark.createDataFrame(
        [
            (1, "2024-01-01", "a"),
            (2, "2024-01-01", "b"),
            (3, "2024-01-02", "c"),
        ],
        "id long, day string, v string",
    ).write.partitionBy("day").parquet(path)

    def day_files(day):
        d = _os.path.join(path, f"day={day}")
        return {
            f: _os.stat(_os.path.join(d, f)).st_mtime_ns
            for f in _os.listdir(d)
            if f.endswith(".parquet")
        }

    day1_before = day_files("2024-01-01")
    updates = spark.createDataFrame(
        [(3, "2024-01-02", "C2"), (4, "2024-01-02", "d")],
        "id long, day string, v string",
    )
    res = merge_upsert(spark, path, updates, "id", partition_col="day")
    assert res["partitions_rewritten"] == 1
    assert res["rows_in_rewritten_partitions"] == 2
    got = {
        (r["id"], r["day"], r["v"])
        for r in spark.read.parquet(path)
        .withColumn("day", F.col("day").cast("string"))
        .collect()
    }
    assert got == {
        (1, "2024-01-01", "a"),
        (2, "2024-01-01", "b"),
        (3, "2024-01-02", "C2"),
        (4, "2024-01-02", "d"),
    }
    # untouched partition: identical files, untouched on disk
    assert day_files("2024-01-01") == day1_before


def test_merge_upsert_null_partition_preserves_base_rows(spark, tmp_path):
    """r8 ADVICE (high): with a NULL partition value in the updates,
    the naive isin(touched) filter evaluates to NULL for the base's
    null-partition rows, silently dropping them from the merge while
    dynamic overwrite replaces __HIVE_DEFAULT_PARTITION__ with only
    the update rows. The null-safe filter must keep them."""
    from flink_exercise_spark.operators.layout import merge_upsert

    path = str(tmp_path / "nullpart")
    spark.createDataFrame(
        [(1, None, "keep-me"), (2, None, "also-keep"), (3, "d1", "other")],
        "id long, day string, v string",
    ).write.partitionBy("day").parquet(path)
    updates = spark.createDataFrame(
        [(2, None, "UPDATED")], "id long, day string, v string"
    )
    res = merge_upsert(spark, path, updates, "id", partition_col="day")
    assert res["partitions_rewritten"] == 1
    got = {
        (r["id"], r["day"], r["v"])
        for r in spark.read.parquet(path)
        .withColumn("day", F.col("day").cast("string"))
        .collect()
    }
    assert got == {
        (1, None, "keep-me"),
        (2, None, "UPDATED"),
        (3, "d1", "other"),
    }


def test_merge_upsert_idempotent(spark, tmp_path):
    from flink_exercise_spark.operators.layout import merge_upsert

    path = str(tmp_path / "idem")
    spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-02", "b")],
        "id long, day string, v string",
    ).write.partitionBy("day").parquet(path)
    updates = spark.createDataFrame(
        [(2, "2024-01-02", "B")], "id long, day string, v string"
    )
    for _ in range(2):
        merge_upsert(spark, path, updates, "id", partition_col="day")
    got = {
        (r["id"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a"), (2, "B")}


# slow (r12 suite-trim): heavy exhaustive/statistical run; the
# default loop keeps the idempotence/carry-forward/crash merge pins
@pytest.mark.slow
def test_merge_upsert_fuzz_vs_dict_reference(spark, tmp_path):
    """Differential fuzz: random base tables and key-unique CDC
    batches (overlapping + new keys, multi-partition updates) must
    land exactly where the last-writer-wins dict reference puts them —
    both the partition-scoped and the whole-table path."""
    import random

    rng = random.Random(20260815)
    days = [f"2024-02-{d:02d}" for d in range(1, 6)]
    for case in range(4):
        base_rows = [
            (k, rng.choice(days), f"v{rng.randrange(1000)}")
            for k in rng.sample(range(100), rng.randint(10, 40))
        ]
        upd_keys = rng.sample(
            range(120), rng.randint(3, 12)
        )  # mix of existing + new keys
        base_by_key = {r[0]: r for r in base_rows}
        upd_rows = [
            (
                k,
                # stable-partition-per-key contract: an existing key
                # keeps its day; new keys pick any
                base_by_key[k][1] if k in base_by_key
                else rng.choice(days),
                f"U{case}_{k}",
            )
            for k in upd_keys
        ]
        want = {r[0]: r for r in base_rows}
        want.update({r[0]: r for r in upd_rows})

        for scoped in (True, False):
            path = str(tmp_path / f"t{case}_{scoped}")
            df = spark.createDataFrame(
                base_rows, "id long, day string, v string"
            )
            if scoped:
                df.write.partitionBy("day").parquet(path)
            else:
                df.write.parquet(path)
            from flink_exercise_spark.operators.layout import merge_upsert

            merge_upsert(
                spark,
                path,
                spark.createDataFrame(
                    upd_rows, "id long, day string, v string"
                ),
                "id",
                partition_col="day" if scoped else None,
            )
            got = {
                r["id"]: (r["id"], r["day"], r["v"])
                for r in spark.read.parquet(path)
                .withColumn("day", F.col("day").cast("string"))
                .collect()
            }
            assert got == want, (case, scoped)
