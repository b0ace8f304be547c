"""Funnel / conversion analysis over the events stream: how many
users progress view -> click -> purchase, each step strictly AFTER the
user's previous step, and how long each transition takes.

This is the ordered-sequence analytics family (the thing plain
GROUP BY cannot express because step N's filter depends on step N-1's
result) done without any of the shapes that die at 100 TB:

- NOT a per-user sort: no ``PARTITION BY user ORDER BY ts`` window —
  a hot user never serializes into one task's sort buffer.
- NOT a sessionize-then-explode: no materialized per-user event list
  in an aggregation buffer.
- Each step is ``min(ts) WHERE after prev`` — a hash aggregate over
  events JOINED to the previous step's one-row-per-user relation, on
  the SAME key (user_id) every time. Under AQE the step relation is
  broadcast when small (late funnel steps shrink geometrically); the
  shuffle alternative is co-partitioned with the aggregate's own
  shuffle, so adding a funnel step adds at most one user-keyed
  exchange of one row per surviving user.

Strictly-after semantics (``ts > t_prev``, not >=): a click logged at
the exact view timestamp is ambiguous attribution; the reference-free
choice here matches the oracle by construction and is pinned by a
crafted-fixture test (same-timestamp step does NOT advance the
funnel).

Timestamps compare at full microsecond precision (`unix_micros` /
DuckDB ``epoch_us`` — the asof.py convention); transition lags are
averaged in integer microseconds and rounded once at the end.

Reference scope: the reference job's aggregates (StreamingJob.
scala:149-165) are per-key counts/first-seen; the funnel is the
north-star extension where per-key state must be ORDERED, expressed
as aggregate-join chains instead of state machines.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table

FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_user_steps(
    events: DataFrame, steps: Sequence[str] = FUNNEL_STEPS
) -> list[DataFrame]:
    """One relation per funnel step: ``(user_id, t{i}, t{i-1})`` — the
    user's FIRST step-``i`` event strictly after their step-``i-1``
    time. Step 0 is an unconditional ``min(ts)`` per user."""
    ev = events.filter(F.col("user_id").isNotNull()).select(
        "user_id", "event_type", "ts"
    )
    out: list[DataFrame] = []
    prev: DataFrame | None = None
    for i, step in enumerate(steps):
        mine = ev.filter(F.col("event_type") == step)
        if prev is None:
            cur = mine.groupBy("user_id").agg(F.min("ts").alias("t0"))
        else:
            tprev = f"t{i - 1}"
            cur = (
                mine.join(prev.select("user_id", tprev), "user_id")
                .filter(F.col("ts") > F.col(tprev))
                .groupBy("user_id")
                .agg(
                    F.min("ts").alias(f"t{i}"),
                    # constant within the group (one row per user in
                    # ``prev``) — min() is just the cheapest way to
                    # carry it through the aggregate.
                    F.min(tprev).alias(tprev),
                )
            )
        out.append(cur)
        prev = cur
    return out


def funnel_summary(
    events: DataFrame, steps: Sequence[str] = FUNNEL_STEPS
) -> DataFrame:
    """Per-stage funnel summary: ``(stage, n_users, avg_lag_sec)``.
    ``n_users`` = users reaching the stage under strictly-after
    ordering; ``avg_lag_sec`` = mean transition time from the previous
    stage (NULL for stage 0), rounded to 2 digits."""
    stage_rels = funnel_user_steps(events, steps)
    parts: list[DataFrame] = []
    for i, (step, rel) in enumerate(zip(steps, stage_rels)):
        label = step if i == 0 else f"{step}_after_{steps[i - 1]}"
        if i == 0:
            agg = rel.agg(
                F.count(F.lit(1)).cast("long").alias("n_users"),
                F.lit(None).cast("double").alias("avg_lag_sec"),
            )
        else:
            lag_us = F.unix_micros(F.col(f"t{i}")) - F.unix_micros(
                F.col(f"t{i - 1}")
            )
            # avg() accumulates a DOUBLE partial sum, whose result can
            # depend on partial-aggregation order once the summed lags
            # exceed 2^53 us — sum exactly as LONG (order-independent),
            # then ONE fixed left-assoc division chain (sum/n)/1e6,
            # mirrored verbatim in the oracle SQL.
            agg = rel.agg(
                F.count(F.lit(1)).cast("long").alias("n_users"),
                F.sum(lag_us).cast("long").alias("_sum_lag_us"),
            ).select(
                "n_users",
                F.round(
                    F.col("_sum_lag_us").cast("double")
                    / F.col("n_users").cast("double")
                    / F.lit(1000000.0),
                    2,
                ).alias("avg_lag_sec"),
            )
        parts.append(agg.select(F.lit(label).alias("stage"), "*"))
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res


@register(
    "events_funnel_steps",
    # Pin: tests/test_funnel.py pandas fixture reference.
    oracle="""
    WITH s0 AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' AND user_id IS NOT NULL
      GROUP BY user_id
    ), s1 AS (
      SELECT e.user_id, min(e.ts) AS t1, min(s0.t0) AS t0
      FROM events e JOIN s0 ON e.user_id = s0.user_id
      WHERE e.event_type = 'click' AND e.ts > s0.t0
      GROUP BY e.user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s1.t1
      GROUP BY e.user_id
    )
    SELECT 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users,
           CAST(NULL AS DOUBLE) AS avg_lag_sec
    FROM s0
    UNION ALL
    SELECT 'click_after_view', CAST(count(*) AS BIGINT),
           round(CAST(CAST(sum(epoch_us(t1) - epoch_us(t0)) AS BIGINT)
                      AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 1000000.0, 2)
    FROM s1
    UNION ALL
    SELECT 'purchase_after_click', CAST(count(*) AS BIGINT),
           round(CAST(CAST(sum(epoch_us(t2) - epoch_us(t1)) AS BIGINT)
                      AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 1000000.0, 2)
    FROM s2
    """,
    doc="Conversion funnel view -> click -> purchase with "
        "strictly-after ordering per user: stage reach counts and "
        "mean transition lag, as a chain of user-keyed hash "
        "aggregates + same-key joins — ordered-sequence analytics "
        "with no per-user sort or event-list buffer",
    tags=("events", "funnel", "sequence"),
)
def q_funnel_steps(spark, sf_dir):
    return funnel_summary(load_table(prep(spark), sf_dir, "events"))
