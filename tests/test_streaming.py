"""Streaming-semantics tests (SURVEY.md §5.2 item 4): the reference
queries through readStream must equal their batch answers at end of
stream, plus watermark late-data behavior on a crafted 2-file replay."""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from flink_exercise_spark.operators.aggregates import (
    top_host_per_window,
    windowed_floor_avg,
)
from flink_exercise_spark.sources.tables import load_table
from flink_exercise_spark.streaming.jobs import (
    events_stream,
    run_to_memory,
    windowed_floor_avg_stream,
    windowed_host_counts,
)
from tests.conftest import SF_SMOKE


def _rows(spark, sql):
    return {tuple(r) for r in spark.sql(sql).collect()}


def _stamp(path, k):
    """Give ``path`` (a file, or every file under a directory) the
    mtime ``1_000_000 + k`` seconds: the file source reads files in
    mtime order, so stamping file ``k`` orders the micro-batches
    without sleeping between writes."""
    files = (
        [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
        if os.path.isdir(path)
        else [path]
    )
    for f in files:
        os.utime(f, (1_000_000 + k, 1_000_000 + k))


def test_q1_counts_stream_equals_batch(spark):
    stream = windowed_host_counts(events_stream(spark, SF_SMOKE))
    run_to_memory(stream, "q1_counts", "complete")
    got = _rows(spark, "SELECT window_start, user_id, n_requests FROM q1_counts")

    ev = load_table(spark, SF_SMOKE, "events")
    exp = {
        (r["window_start"], r["user_id"], r["n_requests"])
        for r in ev.groupBy(
            F.unix_timestamp(F.window("ts", "31 days")["start"]).alias(
                "window_start"
            ),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_requests"))
        .collect()
    }
    assert got == exp

    # arg-max over the sink table == batch Q1 (production shape for the
    # second aggregation stage)
    spark.sql(
        """
        SELECT window_start,
               max_by(user_id, struct(n_requests, user_id)) AS top_user,
               max(n_requests) AS n_requests
        FROM q1_counts GROUP BY window_start
        """
    ).createOrReplaceTempView("q1_final")
    got_final = _rows(spark, "SELECT * FROM q1_final")
    exp_final = {
        tuple(r) for r in top_host_per_window(ev).collect()
    }
    assert got_final == exp_final


def test_continuous_aggregate_rollup_parity(spark):
    """The continuous-aggregate architecture for hypertable_rollup:
    the STREAM maintains only the finest grain (hour buckets through
    the windowed state store); the coarser grains (day, total) are
    derived READ-SIDE from the hour materialization — and every grain
    must equal the one-pass batch rollup. This is how the rollup
    deploys on an unbounded stream, where a multi-grain aggregation
    would need multiple stateful operators Spark disallows."""
    from flink_exercise_spark.operators.windows import hypertable_rollup

    stream = (
        events_stream(spark, SF_SMOKE)
        .withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("hour_start"),
            "n_events",
            "sum_value",
        )
    )
    run_to_memory(stream, "cont_agg_hours", "complete")
    hour = spark.table("cont_agg_hours")

    import math

    batch_rows = hypertable_rollup(
        load_table(spark, SF_SMOKE, "events")
    ).collect()
    by_grain = {
        g: {
            (r["day_start"], r["hour_start"]): (r["n_events"], r["sum_value"])
            for r in batch_rows
            if r["grain"] == g
        }
        for g in (0, 1, 3)
    }

    def check(got: dict, grain: int) -> None:
        exp = by_grain[grain]
        assert set(got) == set(exp)
        for k, (n, s) in got.items():
            assert n == exp[k][0], (grain, k)
            # Batch emits round(sum, 2); fixture values are 2-decimal,
            # so the true sums sit ~1e-10 from a 2-decimal point and
            # rounding the stream side recovers the identical value
            # regardless of summation order (contrast the 4dp-avg
            # boundary flake in test_window_fuzz.py's note).
            assert math.isclose(round(s, 2), exp[k][1], abs_tol=1e-9), (
                grain,
                k,
            )

    check(
        {
            (r["hour_start"] - r["hour_start"] % 86400, r["hour_start"]): (
                r["n_events"],
                r["sum_value"],
            )
            for r in hour.collect()
        },
        0,
    )
    # Day + total grains derived from the hour materialization only.
    check(
        {
            (r["day_start"], None): (r["n_events"], r["sum_value"])
            for r in hour.groupBy(
                (
                    F.col("hour_start") - F.col("hour_start") % 86400
                ).alias("day_start")
            )
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
            .collect()
        },
        1,
    )
    total = hour.agg(
        F.sum("n_events").alias("n"), F.sum("sum_value").alias("s")
    ).collect()[0]
    check({(None, None): (total["n"], total["s"])}, 3)


def test_q3_floor_avg_stream_equals_batch(spark):
    stream = windowed_floor_avg_stream(events_stream(spark, SF_SMOKE))
    run_to_memory(stream, "q3_stream", "complete")
    got = _rows(spark, "SELECT window_start, avg_value_floor FROM q3_stream")
    exp = {
        tuple(r)
        for r in windowed_floor_avg(load_table(spark, SF_SMOKE, "events")).collect()
    }
    assert got == exp


def test_stream_stream_interval_join_equals_batch(spark):
    """Stream-stream interval join (both sides stateful, state bounded
    by watermark + the time-range condition) must converge to the
    batch equi+range join on a bounded input."""
    from flink_exercise_spark.streaming.jobs import stream_interval_join

    src = events_stream(spark, SF_SMOKE)
    views = src.filter(F.col("event_type") == "view")
    purchases = src.filter(F.col("event_type") == "purchase")
    joined = stream_interval_join(views, purchases, window="1 hour")
    run_to_memory(joined, "interval_join_sink", "append")
    got = _rows(
        spark,
        "SELECT user_id, purchase_id, view_id FROM interval_join_sink",
    )

    ev = load_table(spark, SF_SMOKE, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    exp = {
        (r["user_id"], r["purchase_id"], r["view_id"])
        for r in p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_ts") <= F.col("p_ts"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == exp and len(exp) > 0


def test_stream_static_enrichment_join_equals_batch(spark):
    """Stream-static join (dimension enrichment): the static side is
    re-read per micro-batch and broadcast — stateless, no watermark
    needed, the standard production enrichment shape. Must equal the
    batch join."""
    cust = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = events_stream(spark, SF_SMOKE).join(
        F.broadcast(cust), "user_id"
    ).select("event_id", "user_id", "c_mktsegment")
    run_to_memory(stream, "enrich_sink", "append")
    got = _rows(spark, "SELECT * FROM enrich_sink")

    ev = load_table(spark, SF_SMOKE, "events")
    exp = {
        (r["event_id"], r["user_id"], r["c_mktsegment"])
        for r in ev.join(cust, "user_id")
        .select("event_id", "user_id", "c_mktsegment")
        .collect()
    }
    assert got == exp and len(exp) > 0


# slow (r12 suite-trim): heavy exhaustive/statistical run; the
# default loop keeps test_streaming_ingest's horizon-readmit twin
@pytest.mark.slow
def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: state is evicted past the
    watermark delay, so a key recurring AFTER the horizon is re-emitted
    — the bounded-state dedup mode SCALE.md prescribes for churning
    keys (vs the reference's unbounded per-key Set)."""
    src = str(tmp_path / "ddww")
    # b0: key 1 first seen (jan). b1/b2: other keys far ahead advance
    # the watermark past key 1's expiry — eviction applies with one
    # batch of lag (measured on Spark 4.1: a duplicate arriving in the
    # very batch after the watermark passed is still deduped; state is
    # gone one batch later). b3: key 1 recurs -> re-emitted.
    batches = [
        [(dt.datetime(2024, 1, 1), 1)],
        [(dt.datetime(2024, 3, 1), 2)],
        [(dt.datetime(2024, 4, 1), 3)],
        [(dt.datetime(2024, 4, 2), 1)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "ts timestamp, user_id long") \
            .coalesce(1).write.mode("overwrite").parquet(f"{src}/b{i}")
        _stamp(f"{src}/b{i}", i)

    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id"])
    )
    run_to_memory(stream, "ddww", "append")
    n = spark.sql("SELECT count(*) n FROM ddww").collect()[0]["n"]
    # 4 emissions: keys 1,2,3 plus key 1 AGAIN after its state aged
    # out; unbounded dropDuplicates would emit only 3
    assert n == 4


def test_streaming_clf_end_to_end(spark, tmp_path):
    """The reference's actual shape: text-file stream -> regex parse ->
    event-time window -> aggregate (S1+P1..P4+T4 under streaming)."""
    from flink_exercise_spark.sources.clf import parse_clf, valid_lines

    src = str(tmp_path / "logs")
    os.makedirs(src)
    lines = [
        'a.net - - [01/Aug/1995:00:00:01 +0000] "GET / HTTP/1.0" 200 100',
        'b.net - - [02/Aug/1995:00:00:02 +0000] "GET / HTTP/1.0" 200 300',
        "garbage line",
    ]
    with open(os.path.join(src, "part1.log"), "w") as f:
        f.write("\n".join(lines))

    parsed = valid_lines(parse_clf(spark.readStream.text(src)))
    agg = parsed.groupBy(
        F.unix_timestamp(F.window("ts", "31 days")["start"]).alias("ws")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("reply_bytes").alias("b"))
    run_to_memory(agg, "clf_stream", "complete")
    rows = spark.sql("SELECT * FROM clf_stream").collect()
    assert len(rows) == 1 and rows[0]["n"] == 2 and rows[0]["b"] == 400


def test_watermark_drops_late_rows(spark, tmp_path):
    """T3 semantics: with a 0-second watermark, an event older than the
    watermark arriving in a later micro-batch is dropped from append-
    mode windowed aggregation (reference: punctuated assigner + no
    allowed lateness, StreamingJob.scala:56-65)."""
    src = str(tmp_path / "stream_src")
    os.makedirs(src)

    def write_batch(name, rows):
        spark.createDataFrame(rows, "ts timestamp, user_id long").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(src, name))
        _stamp(os.path.join(src, name), int(name[1:]))

    jan = dt.datetime(2024, 1, 10)
    feb_late = dt.datetime(2024, 2, 25)
    mar = dt.datetime(2024, 3, 20)
    # batch 1: jan + mar events -> watermark jumps past Feb window end
    write_batch("b1", [(jan, 1), (mar, 2)])
    # batch 2: late Feb event — behind the watermark, must be dropped
    write_batch("b2", [(feb_late, 3)])

    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
        .withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "31 days").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("w.start").alias("ws"), "n")
    )
    run_to_memory(stream, "late_test", "append")
    got = {
        (r["ws"], r["n"])
        for r in spark.sql("SELECT ws, n FROM late_test").collect()
    }
    # Jan window emitted with exactly 1 event; the late Feb event's
    # window never accumulates it. (Mar window may be withheld in
    # append mode until a higher watermark — not asserted.)
    jan_ws = int(jan.replace(tzinfo=dt.timezone.utc).timestamp()
                 // (31 * 86400) * (31 * 86400))
    assert (jan_ws, 1) in got
    feb_ws = int(feb_late.replace(tzinfo=dt.timezone.utc).timestamp()
                 // (31 * 86400) * (31 * 86400))
    assert all(not (ws == feb_ws and n == 1) for ws, n in got)


def _json_events_stream(spark, src):
    """(ts, user_id) events from JSON-lines files of epoch seconds, one
    file per micro-batch in file-mtime order."""
    return (
        spark.readStream.schema("ts long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .selectExpr("timestamp_seconds(ts) AS ts", "user_id")
    )


def _write_events(src, k, rows):
    """File ``k`` of a ``_json_events_stream`` source; mtimes increase
    with ``k``, which is the order the file source reads them in."""
    import json

    os.makedirs(src, exist_ok=True)
    path = os.path.join(src, f"part-{k}.json")
    with open(path, "w") as f:
        f.writelines(
            json.dumps({"ts": ts, "user_id": u}) + "\n" for ts, u in rows
        )
    _stamp(path, k)


_W31 = 31 * 86400


def _top_per_window(df):
    return {
        r["window_start"]: (r["top_user"], r["n_requests"])
        for r in top_host_per_window(df).collect()
    }


def test_foreachbatch_top_host_equals_batch_q1(spark, tmp_path):
    """Streaming Q1 completed via the foreachBatch sink-then-reduce
    shape must equal batch Q1 (``top_host_per_window``) exactly, ties
    included: on the events fixture and on a crafted two-user tie."""
    from flink_exercise_spark.streaming.jobs import ForeachBatchTopHost

    sink = ForeachBatchTopHost(driver_dict=True)
    sink.run(windowed_host_counts(events_stream(spark, SF_SMOKE)))
    assert sink.top_per_window() == _top_per_window(
        load_table(spark, SF_SMOKE, "events")
    )

    # Users 3 and 5 tie at 2 requests in one window (over two
    # micro-batches); user 9 wins the other window outright.
    a = 1_700_000_000 // _W31 * _W31
    src = str(tmp_path / "tie")
    _write_events(src, 0, [(a + 1, 5), (a + 2, 3), (a + _W31 + 1, 9)])
    _write_events(src, 1, [(a + 3, 3), (a + 4, 5), (a + _W31 + 2, 1)])
    _write_events(src, 2, [(a + _W31 + 3, 9)])
    tie = ForeachBatchTopHost(driver_dict=True)
    tie.run(windowed_host_counts(_json_events_stream(spark, src)))
    assert tie.top_per_window() == {a: (5, 2), a + _W31: (9, 2)}
    assert tie.top_per_window() == _top_per_window(
        spark.read.schema("ts long, user_id long").json(src)
        .selectExpr("timestamp_seconds(ts) AS ts", "user_id")
    )


def test_foreachbatch_run_timeout_raises_and_stops(spark):
    """A run that outlives its timeout leaves a partial change log:
    ``run`` must raise, and must stop the query on the way out."""
    from flink_exercise_spark.streaming.jobs import ForeachBatchTopHost

    class SlowSink(ForeachBatchTopHost):
        def upsert(self, batch_df, batch_id):
            time.sleep(3)

    sink = SlowSink(driver_dict=True)
    with pytest.raises(TimeoutError, match="incomplete"):
        sink.run(
            windowed_host_counts(events_stream(spark, SF_SMOKE)),
            timeout_sec=1,
        )
    assert spark.streams.active == []


def test_stateful_stream_restarts_from_checkpoint(spark, tmp_path):
    """Windowed counts with a 12-hour watermark, stopped after two files
    and restarted from the same checkpoint after a third arrives, must
    resolve to the counts of one uninterrupted run: restored state
    (user 7 keeps counting across the restart) and the restored
    watermark (the three planted first-window rows are dropped). The
    state store keeps Spark's checkpoint checksums beside every delta
    file."""
    from flink_exercise_spark.streaming.jobs import (
        ForeachBatchTopHost,
        _drain,
    )

    a = 1_700_000_000 // _W31 * _W31
    b = a + _W31
    files = [
        [(a + 10, 1), (a + 20, 2), (b + 2 * 86400, 7)],
        [(b + 3 * 86400, 7), (b + 3 * 86400, 8)],
        # planted late rows: first window, behind the watermark
        [(a + 100, 1), (a + 200, 3), (a + 300, 4), (b + 4 * 86400, 7)],
    ]

    def drain(src, ck, store):
        writer = (
            windowed_host_counts(_json_events_stream(spark, src), "12 hours")
            .writeStream.foreachBatch(
                ForeachBatchTopHost(store_path=store).upsert
            )
            .outputMode("update")
            .option("checkpointLocation", ck)
        )
        q = _drain(writer, spark, 120, True, "restart_probe")
        return sum(
            op.numRowsDroppedByWatermark
            for p in q.recentProgress
            for op in p.stateOperators
        )

    def resolved(store):
        return {
            tuple(r)
            for r in ForeachBatchTopHost(store_path=store)
            .resolved_counts(spark)
            .collect()
        }

    src, ck, store = (str(tmp_path / d) for d in ("src", "ck", "store"))
    once_src, once_store = str(tmp_path / "once"), str(tmp_path / "once_q")
    for k, rows in enumerate(files):
        _write_events(once_src, k, rows)
    for k in (0, 1):
        _write_events(src, k, files[k])
    # Two state partitions keep this short: each one is a task in every
    # micro-batch.
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        assert drain(src, ck, store) == 0
        _write_events(src, 2, files[2])
        assert drain(src, ck, store) == 3
        assert drain(once_src, str(tmp_path / "once_ck"), once_store) == 3
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)

    want = {(a, 1, 1), (a, 2, 1), (b, 7, 3), (b, 8, 1)}
    assert resolved(store) == resolved(once_store) == want
    state = os.path.join(ck, "state", "0")
    parts = [p for p in os.listdir(state) if p != "_metadata"]
    assert parts
    for part in parts:
        names = set(os.listdir(os.path.join(state, part)))
        deltas = {n for n in names if n.endswith(".delta")}
        assert deltas and {d + ".crc" for d in deltas} <= names, part


def test_foreachbatch_parquet_store_equals_dict_store(spark, tmp_path):
    """The production parquet-change-log store (executor-side append +
    last-writer-wins read) must resolve to the same keyed counts as the
    driver-dict test store — no collect() anywhere in the parquet
    path."""
    from flink_exercise_spark.streaming.jobs import ForeachBatchTopHost

    dict_sink = ForeachBatchTopHost(driver_dict=True)
    dict_sink.run(windowed_host_counts(events_stream(spark, SF_SMOKE)))

    pq_sink = ForeachBatchTopHost(store_path=str(tmp_path / "q1_store"))
    pq_sink.run(windowed_host_counts(events_stream(spark, SF_SMOKE)))
    resolved = {
        (r["window_start"], r["user_id"]): r["n_requests"]
        for r in pq_sink.resolved_counts(spark).collect()
    }
    assert resolved == dict_sink.store
    # read-side plan stays hash-aggregable (BIGINT max_by buffer)
    plan = pq_sink.resolved_counts(spark)._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan


def test_sliding_window_stream_equals_batch(spark):
    """T4 sliding generalization under streaming: the windowed count
    over (size=7d, slide=1d) must equal the batch answer at end of
    stream. (The batch operator's exact countDistinct is batch-only —
    Spark disallows COUNT(DISTINCT) in streaming aggregation; the
    streaming form carries the count, with approx_count_distinct as
    the documented streaming substitute for the distinct column.)"""
    w = F.window("ts", "7 days", "1 day")
    stream = (
        events_stream(spark, SF_SMOKE)
        .groupBy(F.unix_timestamp(w["start"]).alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    run_to_memory(stream, "sliding_stream", "complete")
    got = _rows(spark, "SELECT window_start, n_events FROM sliding_stream")
    ev = load_table(spark, SF_SMOKE, "events")
    exp = {
        (r["window_start"], r["n_events"])
        for r in ev.groupBy(F.unix_timestamp(w["start"]).alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == exp


def test_session_window_stream_equals_batch(spark):
    """T4 session windows under streaming: gap-based sessions through
    the session-merging state store equal the batch operator exactly in
    COMPLETE mode (update is unsupported for session windows), and
    APPEND mode emits every session except those not yet sealed by the
    watermark — on a bounded run, exactly the final session."""
    from flink_exercise_spark.operators.windows import session_windows

    stream = session_windows(
        events_stream(spark, SF_SMOKE).withWatermark("ts", "0 seconds")
    )
    run_to_memory(stream, "session_stream", "complete")
    got = _rows(
        spark,
        "SELECT user_id, session_start, n_events, sum_value "
        "FROM session_stream",
    )
    exp = {
        tuple(r)
        for r in session_windows(load_table(spark, SF_SMOKE, "events"))
        .collect()
    }
    assert got == exp

    stream2 = session_windows(
        events_stream(spark, SF_SMOKE).withWatermark("ts", "0 seconds")
    )
    run_to_memory(stream2, "session_stream_append", "append")
    appended = _rows(
        spark,
        "SELECT user_id, session_start, n_events, sum_value "
        "FROM session_stream_append",
    )
    assert len(exp) - len(appended) == 1  # the watermark-held last session
    assert appended <= exp


def test_finalize_false_output_identical_and_conf_restored(spark):
    """The r14 finalization-batch suppression (run_to_memory
    finalize=False): for the registered entries' modes (complete /
    update / dedup-append / inner-join-append) the bounded output must
    be IDENTICAL with and without the trailing no-data micro-batch,
    and the session conf must be restored afterwards — the suppression
    is scoped to the one bounded run, never leaked to a later query
    (the append session-window test above RELIES on the default)."""
    from flink_exercise_spark.streaming.jobs import (
        _NO_DATA_BATCH_KEY,
        windowed_first_per_host_stream,
        windowed_floor_avg_stream,
    )

    before = spark.conf.get(_NO_DATA_BATCH_KEY, "true")
    # complete-mode windowed agg (the q3 shape)
    for fin, table in ((True, "fin_q3_on"), (False, "fin_q3_off")):
        stream = windowed_floor_avg_stream(events_stream(spark, SF_SMOKE))
        run_to_memory(stream, table, "complete", finalize=fin)
    assert _rows(spark, "SELECT * FROM fin_q3_on") == _rows(
        spark, "SELECT * FROM fin_q3_off"
    )
    # append-mode streaming dedup (the q2 shape)
    for fin, table in ((True, "fin_q2_on"), (False, "fin_q2_off")):
        stream = windowed_first_per_host_stream(
            events_stream(spark, SF_SMOKE)
        )
        run_to_memory(stream, table, "append", finalize=fin)
    assert _rows(
        spark, "SELECT w.start, user_id FROM fin_q2_on"
    ) == _rows(spark, "SELECT w.start, user_id FROM fin_q2_off")
    assert spark.conf.get(_NO_DATA_BATCH_KEY, "true") == before


def test_run_to_memory_timeout_is_loud(spark, tmp_path):
    """A timed-out availableNow query has not committed its batch;
    run_to_memory must RAISE, never let the caller read an empty sink
    as if it were a result (the sf10 '0 rows' near-miss)."""
    import time

    import pandas as pd
    import pytest

    from flink_exercise_spark.streaming.ingest import documents_stream
    from tests.conftest import SF_SMOKE

    def slow(batches):
        for pdf in batches:
            time.sleep(8)
            yield pd.DataFrame({"doc_id": pdf["doc_id"]})

    stream = documents_stream(spark, SF_SMOKE).mapInPandas(
        slow, schema="doc_id long"
    )
    with pytest.raises(TimeoutError, match="incomplete"):
        run_to_memory(stream, "slow_sink_probe", "append", timeout_sec=1)


def test_session_windows_stream_equals_batch(spark):
    """T4 session variant under streaming (complete mode — Spark
    rejects update for session windows, and append would withhold the
    final sessions of a bounded run): end-of-stream state must equal
    the batch operator row for row."""
    from flink_exercise_spark.operators.windows import session_windows
    from flink_exercise_spark.streaming.jobs import session_windows_stream

    stream = session_windows_stream(events_stream(spark, SF_SMOKE))
    run_to_memory(stream, "session_stream", "complete")
    got = _rows(
        spark,
        "SELECT user_id, session_start, n_events, sum_value "
        "FROM session_stream",
    )
    want = {
        tuple(r)
        for r in session_windows(load_table(spark, SF_SMOKE, "events")).collect()
    }
    assert got == want and len(want) > 0


def test_session_windows_stream_merges_across_batches(spark, tmp_path):
    """Cross-batch session state: an in-progress session must absorb a
    later micro-batch's within-gap event — the two batches' events land
    in ONE session with the batch-1 start — while an event past the gap
    opens a distinct session. Complete mode: the memory sink holds the
    final merged state after the last batch."""
    from flink_exercise_spark.streaming.jobs import session_windows_stream

    src = str(tmp_path / "sess_src")
    os.makedirs(src)

    def write_batch(name, rows):
        spark.createDataFrame(
            rows, "ts timestamp, user_id long, value double"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, name)
        )
        _stamp(os.path.join(src, name), int(name[1:]))

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    # batch 1: two events 10 min apart (one open session)
    write_batch("b1", [(t0, 1, 1.0), (t0 + 10 * m, 1, 2.0)])
    # batch 2: within-gap extension (+20 min) and a far event (+2 h)
    write_batch(
        "b2", [(t0 + 20 * m, 1, 4.0), (t0 + 120 * m, 1, 8.0)]
    )

    stream = session_windows_stream(
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    run_to_memory(stream, "session_merge", "complete")
    got = _rows(
        spark,
        "SELECT user_id, session_start, n_events, sum_value "
        "FROM session_merge",
    )
    ts0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    # the batch-2 within-gap event merged INTO the batch-1 session
    # (same start, all three events), and the past-gap event opened
    # its own session — nothing else
    assert got == {(1, ts0, 3, 7.0), (1, ts0 + 120 * 60, 1, 8.0)}


def _compiles(spark) -> int:
    """Whole-stage codegen classes Janino has compiled in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_clf_stream_reuses_compiled_parse(spark, tmp_path):
    """A second drain of the same CLF stream, and a second batch build
    over the same files, compile no new codegen class. Spark re-seeds
    every random expression per micro-batch, so a seeded ``rand``
    barrier in ``parse_clf`` changed the generated source of the
    scan+parse stage in every batch and recompiled it (6 compiles per
    3-file drain); the seedless barrier keeps it byte-identical."""
    from flink_exercise_spark.__main__ import batch_queries
    from flink_exercise_spark.sources.clf import parse_clf, valid_lines
    from flink_exercise_spark.streaming.jobs import ForeachBatchTopHost

    src = str(tmp_path / "clf")
    os.makedirs(src)
    want: dict[tuple[int, str], int] = {}
    for k in range(3):
        lines = ["garbage line"]
        for i in range(12):
            t = dt.datetime(1995, 7, 20 + 4 * k, i, tzinfo=dt.timezone.utc)
            host = f"h{(i * (k + 1)) % 5}.net"
            lines.append(
                f'{host} - - [{t:%d/%b/%Y:%H:%M:%S} +0000] '
                f'"GET /p{i} HTTP/1.0" 200 {10 * i}'
            )
            key = (int(t.timestamp()) // _W31 * _W31, host)
            want[key] = want.get(key, 0) + 1
        path = os.path.join(src, f"part-{k}.log")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        _stamp(path, k)

    def drain(store):
        raw = spark.readStream.option("maxFilesPerTrigger", 1).text(src)
        events = valid_lines(parse_clf(raw)).withColumnRenamed(
            "host", "user_id"
        )
        sink = ForeachBatchTopHost(store_path=str(tmp_path / store))
        sink.run(windowed_host_counts(events), finalize=False)
        return {
            (r["window_start"], r["user_id"]): r["n_requests"]
            for r in sink.resolved_counts(spark).collect()
        }

    first = drain("store0")
    before = _compiles(spark)
    second = drain("store1")
    assert _compiles(spark) - before == 0
    assert second == first == want

    def batch():
        q1, q2, q3 = batch_queries(valid_lines(parse_clf(spark.read.text(src))))
        return [sorted(map(tuple, q.collect())) for q in (q1, q2, q3)]

    first = batch()
    before = _compiles(spark)
    assert batch() == first
    assert _compiles(spark) - before == 0


def test_streams_are_awaited_only_in_drain():
    """No Spark: every stream the package starts is awaited inside
    ``streaming.jobs._drain``, which applies the timeout, raises
    ``TimeoutError`` and always stops the query. An await anywhere else
    is a drain without those guarantees."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "flink_exercise_spark"
    found = []

    class Awaits(ast.NodeVisitor):
        def __init__(self, module):
            self.module, self.scope = module, []

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            if isinstance(node.func, ast.Attribute) and node.func.attr in (
                "awaitTermination", "awaitAnyTermination",
                "processAllAvailable",
            ):
                found.append((self.module, ".".join(self.scope)))
            self.generic_visit(node)

    for path in sorted(pkg.rglob("*.py")):
        Awaits(path.relative_to(pkg).as_posix()).visit(
            ast.parse(path.read_text())
        )
    assert found == [("streaming/jobs.py", "_drain")]
