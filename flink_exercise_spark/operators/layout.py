"""Plain-parquet table maintenance: ``merge_upsert`` (updates win on
key) with partition-scoped rewrites, plus the key-uniqueness guard and
NULL-safe touched-partition filter it shares with the versioned store
(operators/manifest.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _assert_key_unique(updates: DataFrame, key: str) -> int:
    """Upsert-batch guard shared by merge_upsert and the versioned
    store (operators/manifest.py): a duplicate-keyed CDC batch has no
    defined winner without an ordering column. Returns the batch
    size (one count action serves both the guard and the caller's
    stats)."""
    n_updates = updates.count()
    if updates.select(key).distinct().count() != n_updates:
        raise ValueError(
            f"updates are not key-unique on {key!r}: collapse the CDC "
            "batch (e.g. max_by version) before merging"
        )
    return n_updates


def _touched_partition_filter(touched: list, partition_col: str) -> Column:
    """NULL-safe touched-partition predicate, shared with the
    versioned store: with None in the IN-list, ``isin(touched)``
    evaluates to NULL (never true) for the base's null-partition rows,
    so they would silently miss the merge and dynamic overwrite would
    replace __HIVE_DEFAULT_PARTITION__ with only the update rows —
    base rows lost without an error (r8 ADVICE, reproduced)."""
    touched_nonnull = [t for t in touched if t is not None]
    part_filter = F.col(partition_col).isin(touched_nonnull)
    if len(touched_nonnull) < len(touched):  # updates touch NULL part
        part_filter = part_filter | F.col(partition_col).isNull()
    return part_filter


def merge_upsert(
    spark,
    path: str,
    updates: DataFrame,
    key: str,
    partition_col: str | None = None,
) -> dict[str, int]:
    """MERGE (upsert, updates-win-on-key) into a plain-parquet table —
    the CDC/daily-correction maintenance job: mutation without
    rewriting the world.

    Semantics: rows of ``updates`` replace base rows sharing ``key``;
    other base rows survive; new keys insert. ``updates`` must be
    key-unique (guarded — a duplicate-keyed CDC batch has no defined
    winner without an ordering column; collapse upstream with
    arg-max-by-version, e.g. the packed-struct max idiom).

    Scale shape: with ``partition_col`` (the 100 TB form) only the
    partitions PRESENT IN THE UPDATES are read, merged (left-anti on
    the broadcastable update keyset + union), and rewritten under
    dynamic partition overwrite — a CDC batch touching 3 of 10,000
    day-directories rewrites 3 directories, and the anti-join's scan
    is partition-pruned to those 3. Without it, the whole table
    rewrites (correct, and the right shape only for small tables).
    Partition-scoped merging requires ``partition_col`` to be STABLE
    per key (a key may not move between partitions across updates —
    its stale copy in the untouched source partition would survive);
    the standard constraint of every dynamic-partition merge, guarded
    by nothing cheaper than a full-table scan, so stated as contract.

    Transactional seam (documented, not hidden): plain parquet has no
    atomic multi-file commit — a crash between materialization and the
    overwrite can leave a partial partition, and concurrent writers
    are undefined; table formats (Delta/Iceberg/Hudi) exist to close
    exactly this gap. This operator is the single-writer maintenance
    form. The merged result is ``localCheckpoint``-materialized before
    writing because Spark cannot lazily read the very files the
    overwrite is deleting. In the partition-scoped branch the
    materialized size is the touched partitions, not the table; the
    ``partition_col=None`` branch materializes the FULL table,
    consistent with its small-table-only framing."""
    base = spark.read.parquet(path)
    n_updates = _assert_key_unique(updates, key)
    if partition_col is None:
        survivors = base.join(
            F.broadcast(updates.select(key).distinct()), key, "left_anti"
        )
        merged = survivors.unionByName(updates).localCheckpoint()
        merged.write.mode("overwrite").parquet(path)
        return {
            "rows_after": merged.count(),
            "rows_upserted": n_updates,
            "partitions_rewritten": -1,  # whole table
        }
    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]  # CDC-batch-partition-count-sized collect (bounded by contract)
    part_filter = _touched_partition_filter(touched, partition_col)
    survivors = base.filter(
        part_filter  # -> PartitionFilters
    ).join(F.broadcast(updates.select(key).distinct()), key, "left_anti")
    merged = survivors.unionByName(updates).localCheckpoint()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(
            path
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return {
        "rows_in_rewritten_partitions": merged.count(),
        "rows_upserted": n_updates,
        "partitions_rewritten": len(touched),
    }
