"""Event-time window operators — SURVEY.md §2.4 (T4 superset).

The reference uses only tumbling all-windows (``timeWindowAll(31d)``,
StreamingJob.scala:91,95,98); Spark's ``window()`` / ``session_window()``
give sliding and session variants with the same declarative shape, so we
surface all three as engine operators.

Scale notes: a sliding window of size S and slide s replicates every row
S/s times *logically*, but Spark's TimeWindow expands windows before the
hash aggregate, so the shuffle still carries only (window, key) partial
rows. Session windows aggregate via a sort-merge per key — the expensive
shape; at 100 TB keep the per-key event count bounded (watermark + state
TTL in streaming mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table


def sliding_window_counts(
    events: DataFrame, size: str = "7 days", slide: str = "1 day"
) -> DataFrame:
    """Tumbling -> sliding generalization of the reference's T4."""
    w = F.window("ts", size, slide)
    return events.groupBy(
        F.unix_timestamp(w["start"]).alias("window_start")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (gap-based), batch form.

    ``session_window`` starts a new session when an event arrives >= gap
    after the previous one; window start is the first event's timestamp.
    """
    return events.groupBy(
        "user_id", F.session_window("ts", gap).alias("sw")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    ).select(
        "user_id",
        F.unix_timestamp(F.col("sw")["start"]).alias("session_start"),
        "n_events",
        "sum_value",
    )


@register(
    "t4_sliding_window_counts",
    # Pin: tests/test_rotation_pins.py
    # A sliding (7d, 1d) window holds ts iff start = floor(ts/1d)*1d - k*1d
    # for k in 0..6 — enumerate memberships with generate_series.
    oracle="""
    SELECT window_start, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM (
      SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) - k*86400
               AS window_start,
             user_id
      FROM events CROSS JOIN generate_series(0, 6) t(k)
    )
    GROUP BY 1
    """,
    doc="Sliding event-time window (7d size, 1d slide) counts",
    tags=("window", "events"),
)
def q_sliding(spark, sf_dir):
    return sliding_window_counts(load_table(prep(spark), sf_dir, "events"))


# Gaps-and-islands: a new session starts where the gap from the
# previous event (per user) is >= 30 min (Spark session semantics:
# the window is [start, last+gap), an event at exactly prev+gap is
# outside it). ONE constant shared by the batch entry and its
# streaming twin (stream_session_parity) so the two registrations can
# never verify divergent session contracts (code-review r8; the
# _banded_oracle_cte precedent).
SESSION_WINDOWS_ORACLE = """
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, sid
    """


@register(
    "t4_session_windows",
    # Pandas pin: tests/test_rotation_pins.py.
    oracle=SESSION_WINDOWS_ORACLE,
    doc="Per-user session windows, 30-minute gap",
    tags=("window", "events"),
)
def q_sessions(spark, sf_dir):
    return session_windows(load_table(prep(spark), sf_dir, "events"))


def hypertable_rollup(events: DataFrame, value: str = "value") -> DataFrame:
    """Multi-resolution time rollup (the hypertable / continuous-
    aggregate pattern): hour, day, and grand-total aggregates of the
    same measures in ONE scan.

    Spark-first shape: ``rollup(day, hour)`` — the Expand operator
    replicates each row once per grain BEFORE the hash aggregate, so
    partial aggregation still combines map-side and the shuffle
    carries (grain-key, partial) rows, not events. Three separate
    scans (one per resolution) would read the data three times for
    identical results; at 100 TB the coarser grains are then
    incrementally maintainable as materialized aggregates keyed by
    (grain, bucket_start).

    ``grain`` is ``grouping_id()``: 0 = hour row, 1 = day row,
    3 = grand total — the same bit packing DuckDB's GROUPING emits,
    so the oracle checks it directly.

    Known edge divergence (pinned in test_empty_and_null_inputs.py):
    on an EMPTY input Spark's rollup emits no rows, while standard
    SQL emits the count-0 grand-total row. Any non-empty input
    agrees.
    """
    base = events.select(
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_start"),
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start"),
        F.col(value),
    )
    return base.rollup("day_start", "hour_start").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(value), 2).alias("sum_value"),
        F.round(F.avg(value), 4).alias("avg_value"),
        F.grouping_id().cast("int").alias("grain"),
    )


@register(
    "hypertable_rollup_events",
    # Pin: tests/test_rotation_pins.py
    oracle="""
    WITH b AS (
      SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT)
               AS day_start,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
               AS hour_start,
             value
      FROM events
    )
    SELECT day_start, hour_start,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value,
           round(avg(value), 4) AS avg_value,
           CAST(GROUPING(day_start, hour_start) AS INT) AS grain
    FROM b GROUP BY ROLLUP (day_start, hour_start)
    """,
    doc="Hypertable-style multi-resolution rollup: hour/day/total "
        "aggregates of the events stream in one Expand+hash-agg pass "
        "(continuous-aggregate pattern; grain = grouping_id)",
    tags=("window", "events", "rollup", "temporal"),
)
def q_hypertable_rollup(spark, sf_dir):
    return hypertable_rollup(load_table(prep(spark), sf_dir, "events"))
