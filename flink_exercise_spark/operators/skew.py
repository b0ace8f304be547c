"""Skew-mitigation operators — the salting patterns a 100 TB deployment
reaches for when AQE's built-in skew handling isn't enough.

Hash aggregation already neutralizes most aggregation skew via map-side
partial rows, but two shapes still hurt at scale:

- ``count(DISTINCT x)`` by a hot key: the expand+shuffle carries one
  row per (key, x) — a hot key concentrates its whole distinct set on
  one reducer. Salted form: shuffle on (key, salt) first, merge partial
  distinct counts second.
- joins with a hot key: AQE skew-join splits oversized partitions
  post-shuffle (enabled in session defaults); pre-salting both sides is
  the manual fallback (not needed for the fixture queries, documented
  here for the pattern).

Correctness is oracle-checked: the salted two-stage plan must produce
byte-identical results to the plain single-stage form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table

DEFAULT_SALT = 16


def salted_distinct_count(
    df: DataFrame, key: str, distinct_col: str, salt: int = DEFAULT_SALT
) -> DataFrame:
    """Two-stage exact distinct count per key, skew-resistant.

    Stage 1 shuffles on (key, salt(distinct_col)) — a hot key's
    distinct set spreads over ``salt`` reducers, each computing a
    partial exact distinct count over a *disjoint* hash slice of the
    value space (slicing by the value's own hash is what keeps the
    partials disjoint and their sum exact). Stage 2 sums the partials
    per key — ``salt`` rows per key, trivially balanced.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(salt))
    )
    partial = salted.groupBy(key, "_salt").agg(
        F.countDistinct(distinct_col).alias("_partial")
    )
    return partial.groupBy(key).agg(
        F.sum("_partial").alias("n_distinct")
    )


@register(
    "skew_salted_distinct_count",
    # Pin: tests/test_rotation_pins.py
    # Oracle is the PLAIN single-stage form: the salted rewrite must be
    # invisible in the results.
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY 1
    """,
    doc="Skew-resistant two-stage distinct count (salted shuffle), "
        "results identical to the naive plan",
    tags=("skew", "events", "aggregate"),
)
def q_salted_distinct(spark, sf_dir):
    ev = load_table(prep(spark), sf_dir, "events")
    return salted_distinct_count(ev, "event_type", "user_id")
