"""cluster_conf (session.py): the 1000-executor/100 TB deployment
profile — pin the sizing arithmetic and the invariants the operator
families rely on, and prove the profile is actually consumable by a
SparkSession builder (keys/values well-formed)."""

from __future__ import annotations

from types import SimpleNamespace

from flink_exercise_spark.session import cluster_conf


def test_default_profile_sizing():
    c = cluster_conf()
    # 100 TB / 128 MB target task size
    assert int(c["spark.sql.shuffle.partitions"]) == 100 * 1024 * 1024 // 128
    assert c["spark.executor.instances"] == "1000"
    assert c["spark.sql.files.maxPartitionBytes"] == "128m"


def test_light_cluster_floors_at_two_waves():
    # a small cluster with small input still fills every core twice
    c = cluster_conf(executors=10, executor_cores=4, input_tb=0.001)
    assert int(c["spark.sql.shuffle.partitions"]) == 2 * 10 * 4


def test_profile_invariants_operators_rely_on():
    c = cluster_conf()
    # streaming jobs: RocksDB + changelog checkpointing (SCALE.md)
    assert "RocksDBStateStoreProvider" in c[
        "spark.sql.streaming.stateStore.providerClass"
    ]
    # dims stay broadcastable; AQE skew-join on; UTC window math;
    # Arrow path for the Pandas-UDF operators with bounded batches
    assert c["spark.sql.autoBroadcastJoinThreshold"] == "64m"
    assert c["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert c["spark.sql.session.timeZone"] == "UTC"
    assert int(c["spark.sql.execution.arrow.maxRecordsPerBatch"]) <= 10000
    # every entry is a flat string pair a spark-submit --conf accepts
    for k, v in c.items():
        assert isinstance(k, str) and isinstance(v, str) and "=" not in k


def _checkpoint_manager_class(spark, path) -> str:
    """The class Spark's streaming runtime picks for ``path``, asked
    the way a query asks (its session's Hadoop conf)."""
    jvm = spark._jvm
    manager = (
        jvm.org.apache.spark.sql.execution.streaming.checkpointing
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
    )
    return manager.getClass().getName()


def test_local_sessions_commit_checkpoints_through_filesystem(spark, tmp_path):
    """Local sessions get Spark's FileSystem-based checkpoint manager
    (no per-file ``readlink`` forks, session.py); a caller's ``conf=``
    wins, ``prep`` applies the same choice to a session built elsewhere
    without overriding one already made, and the cluster profile keeps
    Spark's default. Fails if a Spark upgrade moves or renames the
    class, as 4.1 did."""
    from flink_exercise_spark.session import (
        CHECKPOINT_MANAGER_KEY,
        DEFAULT_CONF,
        LOCAL_CHECKPOINT_MANAGER,
        _use_local_checkpoint_manager,
        get_spark,
        prep,
    )

    file_context = LOCAL_CHECKPOINT_MANAGER.replace(
        "FileSystemBased", "FileContextBased"
    )
    assert _checkpoint_manager_class(spark, tmp_path) == (
        LOCAL_CHECKPOINT_MANAGER
    )
    assert CHECKPOINT_MANAGER_KEY not in cluster_conf()
    # A non-local master's conf is never read or written (None would
    # raise on either).
    _use_local_checkpoint_manager(SimpleNamespace(
        sparkContext=SimpleNamespace(master="spark://h:7077"), conf=None
    ))
    # Re-apply the session's current values so only the key changes.
    current = {k: spark.conf.get(k) for k in DEFAULT_CONF}
    try:
        same = get_spark(
            master=spark.sparkContext.master,
            conf={**current, CHECKPOINT_MANAGER_KEY: file_context},
        )
        assert same is spark
        prep(spark)
        assert _checkpoint_manager_class(spark, tmp_path) == file_context
        spark.conf.unset(CHECKPOINT_MANAGER_KEY)
        prep(spark)
        assert _checkpoint_manager_class(spark, tmp_path) == (
            LOCAL_CHECKPOINT_MANAGER
        )
    finally:
        spark.conf.set(CHECKPOINT_MANAGER_KEY, LOCAL_CHECKPOINT_MANAGER)
