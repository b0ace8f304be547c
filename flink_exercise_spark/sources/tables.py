"""Parquet table sources for the driver's star-schema fixtures.

Reference analog: StreamingJob.scala:85 (``env.readTextFile``) is the
only source in the reference; our engine's primary source is columnar
Parquet, read through Spark's vectorized reader so filters and column
pruning push into the scan (verify with ``df.explain`` -> PushedFilters/
ReadSchema).

At 100 TB these tables would be partitioned/bucketed at write time; the
loader is a thin seam where a catalog (Hive/Unity/Glue) or bucketed
layout would slot in without touching operator code.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# factor; fact tables shuffle on their join/group keys.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})

# Fixture columns written as parquet TIMESTAMP(NANOS). How Spark reads
# them is version-dependent: <=4.0 rejects them unless
# spark.sql.legacy.parquet.nanosAsLong is set (long nanos, converted
# here with exact integer division — double division would lose low
# bits on ~1.7e18 nano values); 4.1+ ignores that legacy conf and reads
# them natively as TIMESTAMP_NTZ (nanos truncated to micros). Both
# shapes normalize to TimestampType here — NTZ must not leak out
# because Structured Streaming's withWatermark rejects it, and the
# NTZ->TIMESTAMP cast interprets wall-clock in the session timezone,
# which prep() pins to UTC (same instant the oracle computes on).
NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


# session -> {(sf_dir, name) -> loaded DataFrame}. A DataFrame is an
# immutable logical plan, so handing the same object to every query is
# safe and skips the per-call file listing + parquet footer schema read
# (~50 ms each — fixed driver latency that multiplies across a 55-query
# registry run). Keyed WEAKLY on the session object, not id(spark):
# CPython recycles ids after a stopped session is GC'd, so an id-keyed
# cache could hand a new session a DataFrame bound to a dead
# SparkContext. The weak key also lets a stopped session's entries be
# collected instead of accumulating as dead weight.
_TABLE_CACHE: weakref.WeakKeyDictionary[
    SparkSession, dict[tuple[str, str], DataFrame]
] = weakref.WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (``<sf_dir>/<name>.parquet``)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in NANOS_TS_COLUMNS.get(name, ()):
        dt = dict(df.dtypes).get(col)
        if dt == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    per_session[key] = df
    return df


# (path, mtime_ns) -> raw parquet StructType. The streaming sources
# seed readStream with the batch file's footer schema (~50-100 ms of
# driver work per read); one shared memo replaces the two dicts that
# jobs.py and ingest.py each kept keyed by path alone (ADVICE r13).
# Keying on mtime_ns means a fixture parquet REGENERATED in-process
# with a different schema gets a fresh footer read instead of a stale
# schema; same metadata-only class as _TABLE_CACHE above.
_RAW_SCHEMA_CACHE: dict[tuple[str, int], object] = {}


def raw_parquet_schema(spark: SparkSession, path: str):
    """Footer schema of one parquet file, memoized by (path, mtime)."""
    key = (path, os.stat(path).st_mtime_ns)
    schema = _RAW_SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _RAW_SCHEMA_CACHE[key] = schema
    return schema


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition ahead of a per-row-expensive stage (explode, Pandas
    UDF, array fold) — but only when the input is actually
    under-partitioned.

    Why: a small single-file parquet input arrives as ONE partition, so
    an expensive projection runs on one core no matter how many the
    machine has (measured: the sf0.1 shingle explode took 6.6 s on 1 of
    32 cores). At 100 TB inputs split naturally into >= defaultParallelism
    scan partitions, and then this is a no-op — an unconditional
    repartition there would shuffle the full payload (text, embeddings)
    before every dedup/similarity stage for nothing. Pass key columns so
    that when the shuffle does happen it also co-partitions the
    downstream groupBy/join.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    # Memoize per (DataFrame object, cols): the partition-count probe
    # converts the plan to an RDD (~50 ms of driver work), and with
    # load_table handing out cached objects the same input recurs.
    memo: dict[tuple[str, ...], DataFrame] = getattr(df, "_spread_memo", None) or {}
    if cols in memo:
        return memo[cols]
    if df.rdd.getNumPartitions() >= n:
        out = df
    else:
        out = df.repartition(n, *cols) if cols else df.repartition(n)
    memo[cols] = out
    df._spread_memo = memo  # noqa: SLF001 — plain attr on the py object
    return out
