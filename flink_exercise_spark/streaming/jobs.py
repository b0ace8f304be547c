"""Structured Streaming variants of the reference queries — SURVEY.md
§2.4 / §3.4.

The reference is a continuous DataStream job: per-record punctuated
watermarks (StreamingJob.scala:56-65), 31-day event-time tumbling
windows, keyed running aggregates that emit every update. The Spark
mapping:

- watermark: ``withWatermark(ts, delay)`` — max(event time) − delay,
  advanced per micro-batch instead of per record (accepted model
  difference, SURVEY.md §4.2); delay 0s reproduces the reference's
  drop-all-out-of-order behavior.
- running aggregates (A1/A4): ``outputMode("update")`` re-emits each
  changed key per micro-batch = Flink's continuous emission.
- windowed finals (Q1-Q3): the same operator functions as batch —
  every operator in operators/ is DataFrame -> DataFrame, and Spark's
  unified API runs the identical expression incrementally with state.
- stateful distinct (A3): ``dropDuplicates`` over the key, backed by
  the keyed state store (+ ``dropDuplicatesWithinWatermark`` for TTL).

State at scale: windowed aggregation state is (window x key) rows in
the state store; with a watermark, expired windows are evicted each
batch. Streaming dedup state is one row per distinct key — bound it
with dropDuplicatesWithinWatermark when keys churn (at 100 TB/day the
unbounded variant OOMs the state store; the reference has the same
latent issue with its per-key Set state, StreamingJob.scala:158-164).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_exercise_spark.operators.aggregates import WINDOW_31D
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import (
    NANOS_TS_COLUMNS,
    load_table,
    raw_parquet_schema,
)


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events fixture (schema from the batch
    loader, including the nanos->timestamp conversion)."""
    prep(spark)
    batch = load_table(spark, sf_dir, "events")
    # Raw-file schema memo (r13; shared helper + (path, mtime) key
    # since r14, ADVICE r13): the parquet footer read is ~50-100 ms of
    # driver-side work repeated by every streaming query invocation
    # (six registered entries x bench passes).
    raw_schema = raw_parquet_schema(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    reader = spark.readStream.schema(raw_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    # Same TIMESTAMP(NANOS) normalization as the batch loader
    # (tables.NANOS_TS_COLUMNS): long nanos on Spark <=4.0, native
    # TIMESTAMP_NTZ on 4.1+ — withWatermark rejects NTZ, so cast to
    # TimestampType (session tz is pinned UTC by prep above).
    for col in NANOS_TS_COLUMNS["events"]:
        dt = dict(df.dtypes).get(col)
        if dt == "bigint":
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            )
        elif dt == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    _ = batch  # schema parity check hook
    return df


def windowed_host_counts(events: DataFrame, watermark: str = "0 seconds") -> DataFrame:
    """Q1 partial, streaming: per-(window, host) counts. The final
    arg-max is a second stateful aggregation, which Spark restricts;
    production shape is counts -> sink -> cheap batch arg-max over the
    sink table (or update-mode + downstream max), tested that way."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", WINDOW_31D).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_requests"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "user_id",
            "n_requests",
        )
    )


def windowed_floor_avg_stream(
    events: DataFrame, watermark: str = "0 seconds"
) -> DataFrame:
    """Q3 streaming: identical expression to the batch operator."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", WINDOW_31D).alias("w"))
        .agg(
            F.floor(
                F.sum(F.coalesce(F.col("value"), F.lit(0.0)))
                / F.count(F.lit(1))
            ).alias("avg_value_floor")
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "avg_value_floor",
        )
    )


def windowed_first_per_host_stream(
    events: DataFrame, watermark: str = "0 seconds"
) -> DataFrame:
    """Q2 streaming stage 1: first occurrence per (window, host) via the
    streaming dedup state store. Emits in APPEND mode immediately on
    first sight (dedup is not gated on watermark expiry), and because
    the event-time ``window`` column is among the dedup keys the state
    store evicts each window's keys once the watermark passes it — the
    state bound that makes this runnable forever at 100 TB/day. The
    per-window distinct COUNT is the read-side reduction over the sink
    (same sink-then-reduce shape as ForeachBatchTopHost; Spark would
    also accept the chained dedup->windowed-count as two stateful
    operators, but then append-mode only emits a window at watermark
    expiry, which never comes for the last window of a bounded run)."""
    return (
        events.withWatermark("ts", watermark)
        .select(F.window("ts", WINDOW_31D).alias("w"), "user_id")
        .dropDuplicates(["w", "user_id"])
    )


def session_windows_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "0 seconds"
) -> DataFrame:
    """T4 session variant under Structured Streaming (VERDICT r7 gap
    #5): the batch ``windows.session_windows`` aggregation running on
    the state store — same output schema, same per-user gap semantics.

    Session state merges ACROSS micro-batches: an in-progress session
    absorbs later batches' events (and adjacent sessions) until the
    watermark passes its close, and the state store evicts it then —
    the bound that makes per-user sessionization runnable forever at
    100 TB/day (the batch form's sort-merge buffers a user's whole
    history instead). Output modes: Spark REJECTS update mode for
    session-window aggregation (merging sessions would need
    retractions); unbounded deployments run APPEND (sessions emit at
    watermark expiry), bounded/availableNow runs use COMPLETE — append
    would withhold every session the watermark never passes, the
    windowed_first_per_host_stream note one operator up. Stream ==
    batch equality and the cross-batch merge are pinned in
    tests/test_streaming.py."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("sw")["start"]).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def stream_interval_join(
    views: DataFrame,
    purchases: DataFrame,
    window: str = "1 hour",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Stream-stream INTERVAL join: each purchase paired with the same
    user's view events from the preceding ``window`` — the streaming
    form of the attribution range join.

    Both sides are unbounded streams, so the join is stateful on BOTH
    sides; the watermarks plus the explicit time-range condition are
    what make it runnable forever: Spark derives a state watermark
    from ``v_ts >= p_ts - window`` and evicts buffered view rows older
    than (purchase watermark - window), so per-user state holds at
    most one window of views. Without the range bound the view buffer
    grows without limit and the join is a 100 TB memory leak — the
    condition is load-bearing, not a filter.
    """
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    return p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window}")),
        "inner",
    ).select("user_id", "purchase_id", "p_ts", "view_id", "v_ts")


_TRACKED_DIRS: list[str] = []


def _cleanup_tracked_dirs() -> None:
    for d in _TRACKED_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_tracked_dirs)


def tracked_tempdir(prefix: str) -> str:
    """``mkdtemp`` that is removed at interpreter exit — for stores
    that must outlive their creating function (the DataFrames reading
    them are lazy; the caller collects later in the session) but must
    not outlive the process. Plain ``mkdtemp`` here leaked one
    directory per invocation across tests, benches, and driver rounds
    (ADVICE r5)."""
    d = tempfile.mkdtemp(prefix=prefix)
    _TRACKED_DIRS.append(d)
    return d


class ForeachBatchTopHost:
    """Streaming Q1 completed end-to-end via ``foreachBatch``: Spark
    disallows a second stateful aggregation (the all-window arg-max)
    after the windowed counts, so the counts run in update mode and
    each micro-batch UPSERTS into a keyed store; the arg-max is then a
    cheap read-side reduction — the sink-then-reduce production shape
    for reference Q1 (StreamingJob.scala:91-92).

    Two store modes:

    - default (``store_path`` given or auto-created): the production
      shape — each micro-batch APPENDS its keyed updates to a parquet
      change log straight from the executors (no driver round-trip),
      stamped with ``batch_id``; the read side resolves
      last-writer-wins per key and reduces. This is exactly the
      CDC-log half of a Delta MERGE: swapping the append for a real
      MERGE (or a KV-store write) changes only this method —
      update-mode emissions are keyed, so the merge is idempotent per
      (window, user). An auto-created store lives in a tracked
      tempdir (removed at interpreter exit).
    - ``driver_dict=True``: opt-in test machinery — a driver dict
      holding each key's latest count, the one deliberate data-sized
      ``collect()`` in the repo, bounded by the keyed update-mode
      emissions per batch. Never the default: a default that
      collects to the driver is exactly the 100 TB foot-gun this
      class exists to avoid (VERDICT r5).
    """

    def __init__(
        self, store_path: str | None = None, *, driver_dict: bool = False
    ) -> None:
        if driver_dict and store_path is not None:
            raise ValueError("driver_dict mode takes no store_path")
        self.store: dict[tuple[int, int], int] = {}
        self.store_path = (
            None
            if driver_dict
            else (store_path or tracked_tempdir("foreach_top_host_"))
        )

    def upsert(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.store_path is not None:
            (
                batch_df.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("append").parquet(self.store_path)
            )
            return
        for r in batch_df.collect():
            self.store[(r["window_start"], r["user_id"])] = r["n_requests"]

    def resolved_counts(self, spark: SparkSession) -> DataFrame:
        """Parquet mode read side: last-writer-wins per (window, user)
        over the change log — max_by on the monotone batch id, a
        two-phase HashAggregate (BIGINT agg buffer, no SortAggregate
        trap)."""
        if self.store_path is None:
            raise ValueError("resolved_counts requires store_path mode")
        log = spark.read.parquet(self.store_path)
        return log.groupBy("window_start", "user_id").agg(
            F.max_by("n_requests", "_batch_id").alias("n_requests")
        )

    def top_per_window(self) -> dict[int, tuple[int, int]]:
        """window_start -> (user_id, n_requests); ties to the highest
        user, as batch Q1 (``aggregates.top_host_per_window``)."""
        best: dict[int, tuple[int, int]] = {}  # window -> (n, user)
        for (w, u), n in self.store.items():
            best[w] = max(best.get(w, (n, u)), (n, u))
        return {w: (u, n) for w, (n, u) in best.items()}

    def run(
        self, counts: DataFrame, timeout_sec: int | None = None,
        finalize: bool = True,
    ) -> None:
        """Drain ``counts`` in update mode into the store; raises
        ``TimeoutError`` like ``run_to_memory`` (same timeout default),
        because a timed-out run leaves a partial change log."""
        _drain(
            counts.writeStream.foreachBatch(self.upsert).outputMode("update"),
            counts.sparkSession, timeout_sec, finalize,
            "ForeachBatchTopHost",
        )


_NO_DATA_BATCH_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"


class _no_finalization_batch:
    """Scoped ``noDataMicroBatches.enabled=false`` (r14, VERDICT r13
    item 4): a bounded availableNow run normally appends one NO-DATA
    micro-batch after the last data batch, whose only purposes are (a)
    advancing the watermark so APPEND-mode stateful operators emit
    watermark-gated results and (b) evicting expired state. A caller
    may suppress it ONLY with a per-entry proof that neither purpose
    affects what the bounded run emits (complete mode re-emits full
    state; update mode emits only keys a batch changed; streaming
    dedup and stream-stream INNER joins emit in the data batch itself
    — see each registered entry's call site). Callers that DO rely on
    finalization-batch emission (append-mode windowed aggregation and
    session windows: watermark expiry IS their emission trigger,
    pinned in test_streaming.py's append tests) must keep the default.
    Save/restore so the session conf never leaks across queries."""

    def __init__(self, spark) -> None:
        self._conf = spark.conf

    def __enter__(self):
        self._old = self._conf.get(_NO_DATA_BATCH_KEY, "true")
        self._conf.set(_NO_DATA_BATCH_KEY, "false")
        return self

    def __exit__(self, *exc) -> None:
        self._conf.set(_NO_DATA_BATCH_KEY, self._old)


def run_to_memory(
    df: DataFrame,
    table: str,
    mode: str,
    timeout_sec: int | None = None,
    finalize: bool = True,
) -> None:
    """Execute a bounded stream to completion into a memory sink
    (availableNow trigger = process everything, then stop).

    ``finalize=False`` suppresses the trailing no-data micro-batch —
    pass it ONLY with an emission-semantics proof at the call site
    (see _no_finalization_batch).

    LOUD on timeout: a timed-out availableNow query has NOT committed
    its batch, so reading the sink would silently return empty/partial
    data — exactly what happened when the sf10 scaling bench first ran
    the streaming near-dup entry (119 s of state-store work, 120 s
    timeout, "0 rows" reported as if it were a result). The default
    timeout scales via SPARK_GRAFT_STREAM_TIMEOUT (seconds; fixture
    runs finish in single-digit seconds, sf10+ runs need minutes)."""
    _drain(
        df.writeStream.format("memory").queryName(table).outputMode(mode),
        df.sparkSession, timeout_sec, finalize, table,
    )


def _drain(
    writer, spark: SparkSession, timeout_sec: int | None, finalize: bool,
    name: str,
):
    """Run ``writer`` to completion under an availableNow trigger (see
    ``run_to_memory`` for ``finalize`` and the timeout default) and
    return the stopped query. The query is stopped on every exit:
    ``awaitTermination`` re-raises a failed batch's exception, and
    skipping ``stop()`` then leaks the query's state store and listener
    threads. Every stream the package starts is awaited here and
    nowhere else (``test_streams_are_awaited_only_in_drain``)."""
    if timeout_sec is None:
        timeout_sec = int(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT", "120"))
    import contextlib

    guard = (
        _no_finalization_batch(spark)
        if not finalize
        else contextlib.nullcontext()
    )
    with guard:
        q = writer.trigger(availableNow=True).start()
        try:
            finished = q.awaitTermination(timeout_sec)
        finally:
            q.stop()
    if not finished:
        raise TimeoutError(
            f"streaming query {name!r} still running after "
            f"{timeout_sec}s — raise SPARK_GRAFT_STREAM_TIMEOUT; its "
            f"sink is incomplete and must not be read"
        )
    return q


# ---------------------------------------------------------------------------
# Registry entry: batch ≡ stream parity under the driver's oracle
# ---------------------------------------------------------------------------

def _register_streaming() -> None:
    from flink_exercise_spark.registry import register

    _WIN_SECS = 31 * 86400

    @register(
        "stream_q3_parity",
        # Same oracle as the batch ref_q3 floor-average: the streaming
        # execution (file-source micro-batches -> watermark -> windowed
        # state-store aggregation -> memory sink) must converge to the
        # batch answer on a bounded input.
        oracle=f"""
        SELECT CAST(floor(epoch(ts)/{_WIN_SECS})*{_WIN_SECS} AS BIGINT)
                 AS window_start,
               CAST(floor(sum(coalesce(value, 0)) / count(*)) AS BIGINT)
                 AS avg_value_floor
        FROM events GROUP BY 1
        """,
        doc="Reference Q3 executed as a Structured Streaming job "
            "(readStream parquet source, event-time watermark, windowed "
            "state aggregation, memory sink) — final result hash-equal "
            "to the batch oracle (SURVEY.md §3.4 batch/stream duality)",
        tags=("streaming", "reference", "events"),
    )
    def q_stream_q3(spark, sf_dir):
        stream = windowed_floor_avg_stream(events_stream(spark, sf_dir))
        # finalize=False proof (r14): COMPLETE mode re-emits the full
        # aggregation state on every committed batch and never evicts
        # state on watermark advance, so after the last DATA batch the
        # sink already holds the total bounded aggregate; the no-data
        # finalization batch could only rewrite the identical rows.
        run_to_memory(
            stream, "stream_q3_parity_sink", "complete", finalize=False
        )
        df = spark.table("stream_q3_parity_sink")
        # long cast: memory sink materializes floor() as long already;
        # select in oracle column order for readability.
        return df.select("window_start", "avg_value_floor")

    @register(
        "stream_q1_parity",
        # Same oracle as batch ref_q1_top_host (aggregates.py), ties to
        # the highest user_id: the streaming path must converge to the
        # batch arg-max on a bounded input.
        oracle=f"""
        WITH c AS (
          SELECT CAST(floor(epoch(ts)/{_WIN_SECS})*{_WIN_SECS} AS BIGINT)
                   AS window_start,
                 user_id, count(*) AS n_requests
          FROM events GROUP BY 1, 2
        )
        SELECT window_start, user_id AS top_user, n_requests
        FROM (SELECT *, row_number() OVER (
                PARTITION BY window_start
                ORDER BY n_requests DESC, user_id DESC) AS rn
              FROM c)
        WHERE rn = 1
        """,
        doc="Reference Q1 executed as a Structured Streaming job: "
            "update-mode windowed counts through the state store, "
            "foreachBatch keyed APPEND to an executor-side parquet "
            "change log (the Delta-MERGE stand-in — no driver "
            "round-trip), read-side last-writer-wins resolution + "
            "packed-BIGINT arg-max — Spark disallows a second stateful "
            "aggregation after a windowed agg, so sink-then-reduce is "
            "the production shape (StreamingJob.scala:91-92)",
        tags=("streaming", "reference", "events"),
    )
    def q_stream_q1(spark, sf_dir):
        from flink_exercise_spark.operators.aggregates import (
            packed_argmax_counts,
        )

        counts = windowed_host_counts(events_stream(spark, sf_dir))
        # Production store mode (the class default): every
        # micro-batch's keyed update-mode emissions append straight
        # from the executors; nothing data-sized ever reaches the
        # driver. The auto-created change log is a tracked tempdir —
        # it outlives this function (the returned DataFrame is lazy;
        # the caller collects it) and is removed at interpreter exit.
        fb = ForeachBatchTopHost()
        # finalize=False proof (r14): UPDATE mode emits only the keys a
        # batch's input changed; a no-data batch changes no (window,
        # user) count, so it appends nothing to the change log (state
        # eviction emits nothing in update mode). The read-side
        # last-writer-wins resolution is therefore byte-identical.
        fb.run(counts, finalize=False)
        # Read side: last-writer-wins per (window, user) over the change
        # log, then the same packed-BIGINT arg-max as batch Q1 (ties to
        # the highest user_id, the oracle's documented order).
        return packed_argmax_counts(fb.resolved_counts(spark))

    @register(
        "stream_interval_join_attribution",
        # Pin: tests/test_streaming.py stream==batch interval-join
        # parity.
        # Oracled since r7 (was rows-only): the batch twin of the
        # interval join is plain SQL DuckDB runs natively, and the
        # stream-equals-batch parity test (test_streaming.py) pins
        # that the stateful stream-stream execution produces exactly
        # this relation — so wiring the twin as the oracle upgrades
        # the weakest check in the window to a full value-hash check
        # without weakening what the query exercises (two stateful
        # join buffers, watermark-derived state eviction).
        oracle="""
        SELECT p.user_id, p.event_id AS purchase_id,
               v.event_id AS view_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON p.user_id = v.user_id
         AND v.ts <= p.ts
         AND v.ts >= p.ts - INTERVAL 1 HOUR
        """,
        doc="Stream-stream interval join executed as a real Structured "
            "Streaming job: purchases joined to the same user's views "
            "from the preceding hour, both sides unbounded streams "
            "with watermark + time-range-bounded join state",
        tags=("streaming", "join", "events", "temporal"),
    )
    def q_stream_interval_join(spark, sf_dir):
        src = events_stream(spark, sf_dir)
        views = src.filter(F.col("event_type") == "view")
        purchases = src.filter(F.col("event_type") == "purchase")
        joined = stream_interval_join(views, purchases, window="1 hour")
        # finalize=False proof (r14): a stream-stream INNER join emits
        # each matched pair in the data batch where the match becomes
        # available; only OUTER joins withhold null-extended rows until
        # watermark expiry. The finalization batch could only EVICT
        # buffered state (dropping rows already past matching), never
        # emit — the bounded result is identical without it.
        run_to_memory(joined, "stream_ij_sink", "append", finalize=False)
        return spark.table("stream_ij_sink").select(
            "user_id", "purchase_id", "view_id"
        )

    @register(
        "stream_q2_parity",
        # Same oracle as batch ref_q2_distinct_hosts.
        oracle=f"""
        SELECT CAST(floor(epoch(ts)/{_WIN_SECS})*{_WIN_SECS} AS BIGINT)
                 AS window_start,
               count(DISTINCT user_id) AS n_unique_users
        FROM events GROUP BY 1
        """,
        doc="Reference Q2 executed as a Structured Streaming job: "
            "streaming dropDuplicates over (window, host) through the "
            "dedup state store (watermark-evicted), append-mode sink, "
            "read-side per-window count (StreamingJob.scala:95-96)",
        tags=("streaming", "reference", "events"),
    )
    def q_stream_q2(spark, sf_dir):
        stream = windowed_first_per_host_stream(events_stream(spark, sf_dir))
        # finalize=False proof (r14): streaming dropDuplicates emits a
        # key's FIRST row in the data batch that carries it (emission
        # is not watermark-gated — the operator docstring above); the
        # watermark only EVICTS dedup state for expired windows. The
        # no-data batch therefore emits nothing into the append sink.
        run_to_memory(
            stream, "stream_q2_parity_sink", "append", finalize=False
        )
        return (
            spark.table("stream_q2_parity_sink")
            .groupBy(F.unix_timestamp("w.start").alias("window_start"))
            .agg(F.count(F.lit(1)).alias("n_unique_users"))
        )

    from flink_exercise_spark.operators.windows import (
        SESSION_WINDOWS_ORACLE,
    )

    @register(
        "stream_session_parity",
        # THE SAME gaps-and-islands oracle constant as batch
        # t4_session_windows (shared so the twins can never verify
        # divergent session contracts) — the stream's end-of-input
        # state must equal the batch session assignment exactly. This
        # puts MERGING state under the value-hash gate (every other
        # stateful entry aggregates within a fixed key: here the state
        # store merges/extends session intervals as batches arrive —
        # the cross-batch merge is pinned on a 2-batch replay in
        # test_streaming.py). Complete mode by necessity: Spark
        # rejects update mode for session windows (merging would need
        # retractions), and append gates emission on watermark expiry
        # that never comes for a bounded run's final sessions.
        oracle=SESSION_WINDOWS_ORACLE,
        doc="Per-user 30-minute-gap session windows executed as a "
            "Structured Streaming job: session_window aggregation in "
            "the keyed state store, sessions merging across "
            "micro-batches, complete-mode sink — the streaming twin "
            "of t4_session_windows",
        tags=("streaming", "window", "events", "session"),
    )
    def q_stream_sessions(spark, sf_dir):
        stream = session_windows_stream(events_stream(spark, sf_dir))
        # finalize=False proof (r14): COMPLETE mode (see q_stream_q3) —
        # full state re-emitted per committed batch, no watermark
        # eviction, so the post-last-data commit already equals the
        # bounded session assignment. (The APPEND session form DOES
        # need the finalization batch — test_streaming.py's append
        # test keeps the default.)
        run_to_memory(
            stream, "stream_session_parity_sink", "complete",
            finalize=False,
        )
        return spark.table("stream_session_parity_sink")

    from flink_exercise_spark.operators.dedup import _banded_oracle_cte

    @register(
        "stream_neardup_ingest",
        # The streaming state store holds min(doc_id) per LSH band
        # bucket — O(1) per bucket, no hot-bucket cap needed — and the
        # resolved verdicts are arrival-order independent (bucket
        # minima are monotone), so the batch-twin SQL is an exact
        # value-hash oracle: a doc is a near-dup candidate iff some
        # band's global min doc_id beats its own.
        #
        # Spark-first state choice, measured: the bucket minimum is a
        # plain MIN, so the registered job uses the BUILT-IN update-
        # mode streaming aggregation (JVM state store, no python
        # boundary). The applyInPandasWithState form
        # (ingest.streaming_neardup_emissions) computes the identical
        # relation (equality-pinned) but prices every bucket at one
        # python call per touched batch — at sf10's 2M buckets that
        # kernel ran 15+ minutes where this aggregation takes seconds;
        # custom python state is for semantics MIN can't express
        # (stateful_canonical_docs' multi-field aggregate), not for
        # built-in aggregates.
        oracle=f"""
        WITH {_banded_oracle_cte()}, mins AS (
          SELECT band_id, band_hash, min(doc_id) AS m
          FROM banded GROUP BY 1, 2
        )
        SELECT b.doc_id,
               CAST(count(CASE WHEN m.m < b.doc_id THEN 1 END) AS BIGINT)
                 AS n_dup_bands,
               count(CASE WHEN m.m < b.doc_id THEN 1 END) > 0
                 AS is_near_dup
        FROM banded b
        JOIN mins m ON m.band_id = b.band_id AND m.band_hash = b.band_hash
        GROUP BY b.doc_id
        """,
        doc="Streaming NEAR-dup detection at the ingest front door: "
            "MinHash-LSH band buckets in the keyed state store "
            "(built-in update-mode min aggregation, JVM state), "
            "verdicts resolved read-side against the batch banding — "
            "the streaming twin of dedup_minhash_band_pairs",
        tags=("streaming", "dedup", "documents", "minhash"),
    )
    def q_stream_neardup(spark, sf_dir):
        from flink_exercise_spark.streaming.ingest import (
            band_buckets_projected,
            documents_stream,
            resolve_neardup_verdicts,
        )

        mins = (
            band_buckets_projected(documents_stream(spark, sf_dir))
            .groupBy("band_id", "band_hash")
            .agg(F.min("doc_id").alias("bucket_min"))
        )
        # finalize=False proof (r14): UPDATE-mode MIN aggregation — a
        # no-data batch changes no bucket minimum, so it emits nothing
        # (see q_stream_q1); the unwatermarked state is never evicted
        # either way.
        run_to_memory(mins, "stream_neardup_sink", "update", finalize=False)
        banded = band_buckets_projected(
            load_table(spark, sf_dir, "documents")
        )
        return resolve_neardup_verdicts(
            banded, spark.table("stream_neardup_sink")
        )


_register_streaming()
