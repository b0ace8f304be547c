"""SparkSession factory with scale-oriented defaults.

The reference (StreamingJob.scala:73-83) configures its environment with
a --cores CLI arg and event-time mode. Our equivalent is a builder that
bakes in the configs a 1000-executor/100 TB deployment would want and
that local[N] testing tolerates:

- AQE on (adaptive partition coalescing + skew-join handling): replaces
  the reference's hand-pinned parallelism (StreamingJob.scala:87,92,96).
- Arrow transfer on, for the few Pandas-UDF operators (multimodal).
- Session timezone pinned to UTC so event-time window math is identical
  across engines (the DuckDB oracle computes on naive timestamps).
- Local masters commit streaming checkpoints (offset, commit and source
  logs, file-sink metadata, state-store delta and checksum files)
  through Spark's ``FileSystemBasedCheckpointFileManager``. Spark's
  default renames each file through Hadoop's ``FileContext``, which
  without libhadoop forks a ``readlink`` subprocess per path it
  resolves: ~40 ms per checkpoint file instead of ~10 ms, most of a
  small micro-batch. On a local POSIX file system both managers
  publish a file with rename(2), which is atomic, so nothing is lost.
  HDFS and object-store deployments (the cluster profile below and any
  non-local master) keep Spark's default, whose FileContext
  overwrite-rename is the atomic one there. Integrity checks stay on:
  Spark's checkpoint checksums (``N.delta.crc``) and Hadoop's ``.crc``
  files.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import weakref

from pyspark.sql import SparkSession


def local_cores() -> int:
    """Core count for local mode: ``$SPARK_GRAFT_CPUS`` when set, else
    the cores this process may run on. The one reader of that variable
    — bench.py and scripts/ take the value from here."""
    return int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )


DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The driver fixtures carry TIMESTAMP(NANOS) parquet columns, which
    # Spark's reader rejects; read them as long nanos and convert in the
    # loader (sources/tables.py) — runtime-mutable, also set by prep().
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # At 100 TB this is sized per-cluster (target ~128 MB per post-AQE
    # task); locally it tracks core count — oversizing costs real time
    # in tiny-task scheduling at fixture scale. AQE coalesces runtime
    # excess either way.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE", str(local_cores())
    ),
    "spark.sql.files.maxPartitionBytes": "128m",
    # Broadcast threshold: dim tables (region/nation/customer/part/
    # supplier) stay broadcast-able well past sf100.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.shuffle.spill.compress": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _use_local_checkpoint_manager(spark: SparkSession) -> None:
    """Route a local-master session's streaming checkpoints through
    ``LOCAL_CHECKPOINT_MANAGER`` (see the module docstring). The conf
    is read when a query starts, so setting it at runtime reaches
    sessions built elsewhere (see ``prep``); a value already set (a
    caller's ``conf=``) wins, and non-local masters keep Spark's
    default."""
    if not spark.sparkContext.master.startswith("local"):
        return
    if spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is None:
        spark.conf.set(CHECKPOINT_MANAGER_KEY, LOCAL_CHECKPOINT_MANAGER)


def cluster_conf(
    executors: int = 1000,
    executor_cores: int = 4,
    executor_mem_gb: int = 16,
    input_tb: float = 100.0,
) -> dict[str, str]:
    """The spark-submit profile for the target deployment (1000
    executors / 100 TB), derived from the same sizing rules SCALE.md
    documents per operator family — returned as a conf dict so a
    deployment can `--conf` it verbatim and tests can pin the
    arithmetic.

    Sizing rules (all standard public Spark practice):
    - shuffle.partitions targets ~128 MB of post-shuffle data per task
      assuming shuffle volume ~ input volume, floored at 2 tasks per
      core so a light stage still fills the cluster; AQE coalesces
      runtime excess, so erring high is safe.
    - maxPartitionBytes stays 128 MB: scan parallelism then tracks
      input size automatically (100 TB -> ~800k scan tasks, fine —
      task launch is ~ms; tiny-partition overhead is what AQE
      coalescing removes).
    - Kryo + RocksDB state store + changelog checkpointing: the
      streaming jobs' state outgrows the default HDFS-backed heap
      store at this scale.
    - 10% memory overhead for the Arrow/Python workers the
      Pandas-UDF operators (simhash, multimodal, kmeans) spawn.
    """
    total_cores = executors * executor_cores
    target_task_mb = 128
    shuffle_parts = max(
        2 * total_cores, int(input_tb * 1024 * 1024 / target_task_mb)
    )
    return {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(executor_cores),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.executor.memoryOverheadFactor": "0.10",
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing."
        "enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.dynamicAllocation.enabled": "false",
    }


def get_spark(
    app_name: str = "flink-exercise-spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[local_cores()]`` when no cluster
    master is supplied, mirroring the reference's ``--cores`` parameter
    (StreamingJob.scala:74).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{local_cores()}]"
    builder = builder.master(master)
    merged = dict(DEFAULT_CONF)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _use_local_checkpoint_manager(spark)
    return spark


# Weak set, not id()s: CPython recycles ids after a stopped session is
# GC'd, and a recycled id would wrongly mark a fresh session as already
# shipped (same class of bug as the tables.py cache key).
_SHIPPED_SESSIONS: weakref.WeakSet = weakref.WeakSet()


def _ship_package(spark: SparkSession) -> None:
    """Make flink_exercise_spark importable on executor Python workers.

    Pandas-UDF closures (dedup.simhash, multimodal.decode) are pickled
    by reference to this package, so workers must import it — which
    fails whenever the driver process wasn't launched from the repo
    root. Shipping a zip via addPyFile is the standard fix and makes
    the engine location-independent (exactly what a spark-submit
    deployment would do with --py-files).
    """
    if spark in _SHIPPED_SESSIONS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(
        tempfile.gettempdir(), f"flink_exercise_spark_{os.getpid()}"
    )
    zip_path = base + ".zip"
    if not os.path.exists(zip_path):
        shutil.make_archive(base, "zip", os.path.dirname(pkg_dir),
                            os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(spark)


def prep(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable engine conf to an externally-owned session.

    The correctness driver hands us its own SparkSession; window math and
    timestamp casts must still agree with the UTC-naive DuckDB oracle, so
    pin the session timezone (runtime-mutable conf only). Also picks the
    local checkpoint manager (see _use_local_checkpoint_manager) and
    ships the package zip to executor Python workers (see
    _ship_package).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _use_local_checkpoint_manager(spark)
    _ship_package(spark)
    return spark
