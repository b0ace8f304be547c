"""CLI entry point — the reference's user surface, reproduced.

The reference job (StreamingJob.scala:71-110) is invoked with
``--cores N --path <logfile>`` and prints three labeled result streams.
Equivalent here:

    python -m flink_exercise_spark --path access.log [--cores 4]
        [--streaming] [--window "31 days"]

Parity mapping: S2 CLI parameters (ParameterTool, StreamingJob.scala:
73-75), S3 labeled print sinks (:92,96,107 — same labels), S5
parallelism control (:74,83), S4 execute (:109 — implicit in actions /
query.start). ``--streaming`` runs the same queries through Structured
Streaming with an availableNow trigger and console sink.
"""

from __future__ import annotations

import argparse
import sys


LABELS = {
    # exact sink labels from StreamingJob.scala:92,96,107
    "q1": "Client with most requests",
    "q2": "Number of unique clients",
    "q3": "Average Response size",
}


def host_window_counts(logs, window: str = "31 days"):
    """The one relation ``batch_queries`` derives Q1-Q3 from, before its
    checkpoint: per (window, host), ``n_requests`` and ``_bytes`` (the
    reply sizes summed with NULL as 0, StreamingJob.scala:97)."""
    from pyspark.sql import functions as F

    from flink_exercise_spark.operators.aggregates import window_key_counts

    size = F.coalesce(F.col("reply_bytes").cast("long"), F.lit(0))
    return window_key_counts(
        logs, "host", window, "ts", F.sum(size).alias("_bytes")
    )


def batch_queries(logs, window: str = "31 days"):
    """The three reference queries over parsed valid log lines, batch
    form — exposed for plan tests and reuse; ``main`` prints these.

    Like the reference (StreamingJob.scala:85-107: one parsed ``logs``
    stream feeds all three), one call scans, parses and aggregates the
    input ONCE: ``host_window_counts`` is locally checkpointed and
    - Q1 is the arg-max over it (``top_key_per_window``);
    - Q2 counts its rows per window — exact, since ``valid_lines``
      leaves ``host`` non-null, so each (window, host) group is one
      distinct host;
    - Q3 is ``floor(sum(_bytes) / sum(n_requests))`` — ``floor_avg``'s
      value while a window's byte total stays below 2^53.

    The checkpoint is lazy (``eager=False``), but under AQE building
    it plans the shared relation adaptively, which runs its scan+parse
    map stage here, at call time, not in the first action on Q1-Q3.

    Not ``persist``: the cache manager matches plans by result, and a
    text scan's file index compares equal on its root paths, so a later
    call over the same path would be served the first call's stale
    blocks. ``localCheckpoint`` makes a fresh RDD per call. Its caveat
    is the standard one (operators/dedup.py): local checkpoint blocks
    do not survive executor loss, so losing one mid-run fails the
    remaining queries instead of recomputing them. The blocks are
    tracked like the operators' persists (caching.py): the next
    registry query, or ``release_persisted()``, frees them, so run
    Q1-Q3's actions first.

    Q1 goes through the library's two-pass HashAggregate arg-max, not
    ``max_by(host, struct(...))``: the struct-ordered aggregate plans
    as a SortAggregate (string agg buffers can't hash-aggregate) —
    exactly the trap aggregates.top_host_per_window_any_key documents
    and avoids.
    """
    from pyspark.sql import functions as F

    from flink_exercise_spark.caching import local_checkpoint_tracked
    from flink_exercise_spark.operators.aggregates import top_key_per_window

    shared = local_checkpoint_tracked(host_window_counts(logs, window))
    q1 = top_key_per_window(shared, key="host").withColumnRenamed(
        "top_user", "top_client"
    )
    per_window = shared.groupBy("window_start")
    q2 = per_window.agg(F.count(F.lit(1)).alias("n_unique_clients"))
    q3 = per_window.agg(
        F.floor(F.sum("_bytes") / F.sum("n_requests")).alias("avg_reply_bytes")
    )
    return q1, q2, q3


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="flink_exercise_spark",
        description="NASA Homepage Log Analysis — PySpark engine",
    )
    ap.add_argument("--path", default="NASA_access_log_Aug95",
                    help="Common-Log-Format file (reference default name)")
    ap.add_argument("--cores", type=int, default=4,
                    help="parallelism (reference --cores default 4)")
    ap.add_argument("--window", default="31 days",
                    help="tumbling event-time window size")
    ap.add_argument("--streaming", action="store_true",
                    help="run via Structured Streaming (console sink)")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from flink_exercise_spark.functions.scalars import floor_avg, win_start
    from flink_exercise_spark.session import get_spark
    from flink_exercise_spark.sources.clf import parse_clf, valid_lines

    spark = get_spark(
        app_name="NASA Homepage Log Analysis",
        master=f"local[{args.cores}]",
        conf={"spark.sql.shuffle.partitions": str(args.cores)},
    )
    spark.sparkContext.setLogLevel("ERROR")

    try:
        if args.streaming:
            # The streaming file source monitors a directory; accept a
            # single-file path by watching its parent with a glob.
            import os

            if os.path.isfile(args.path):
                raw = (
                    spark.readStream.option(
                        "pathGlobFilter", os.path.basename(args.path)
                    ).text(os.path.dirname(os.path.abspath(args.path)))
                )
            else:
                raw = spark.readStream.text(args.path)
        else:
            raw = spark.read.text(args.path)
        logs = valid_lines(parse_clf(raw))

        if args.streaming:
            # Streaming arg-max needs a second stateful agg; emit the
            # per-host counts in update mode (the reference's running-
            # aggregate emission) and finals for q2/q3 in complete
            # mode. Exact distinct aggregation is a batch-only plan;
            # streaming uses the HLL sketch (Spark's documented
            # streaming substitute).
            counts = logs.groupBy(
                win_start("ts", args.window), F.col("host")
            ).agg(F.count(F.lit(1)).alias("n_requests"))
            q2 = logs.groupBy(win_start("ts", args.window)).agg(
                F.approx_count_distinct("host").alias("n_unique_clients")
            )
            q3 = logs.groupBy(win_start("ts", args.window)).agg(
                floor_avg("reply_bytes").alias("avg_reply_bytes")
            )
            queries = [
                counts.writeStream.queryName(LABELS["q1"])
                .outputMode("update").format("console")
                .trigger(availableNow=True).start(),
                q2.writeStream.queryName(LABELS["q2"])
                .outputMode("complete").format("console")
                .trigger(availableNow=True).start(),
                q3.writeStream.queryName(LABELS["q3"])
                .outputMode("complete").format("console")
                .trigger(availableNow=True).start(),
            ]
            for q in queries:
                q.awaitTermination()
        else:
            q1, q2, q3 = batch_queries(logs, args.window)
            for label, df in (
                (LABELS["q1"], q1),
                (LABELS["q2"], q2),
                (LABELS["q3"], q3),
            ):
                print(f"=== {label}")
                df.orderBy("window_start").show(truncate=False)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
