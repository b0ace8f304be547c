"""Aggregation operators — SURVEY.md §2.3 (A1–A7) and §2.6 (Q1–Q3).

The reference expresses each query as keyed *running* aggregation whose
per-record partials are reduced by a tumbling all-window (max/maxBy);
in Spark the composition collapses to a windowed GROUP BY with the same
final answer (SURVEY.md §3.4). Every operator is a pure
DataFrame -> DataFrame function, so the identical expression runs under
Structured Streaming (see flink_exercise_spark.streaming).

Scale notes (100 TB): all aggregations here are hash aggregates with
map-side partial reduction, so the shuffle carries one row per
(window, key) — not per event. ``count(DISTINCT)`` over a high-cardinality
key is the one shuffle-heavy op: Spark plans it as a two-pass expand +
hash agg; at extreme cardinality switch to ``approx_count_distinct``
(registered separately) which shuffles HLL sketches only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from flink_exercise_spark.functions.scalars import floor_avg, win_start
from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table

WINDOW_31D = "31 days"
_WIN_SECS = 31 * 86400
# DuckDB-side twin of functions.scalars.win_start (epoch-aligned tumble).
_ORACLE_WIN = f"CAST(floor(epoch(ts)/{_WIN_SECS})*{_WIN_SECS} AS BIGINT)"


# ---------------------------------------------------------------------------
# Operator library (DataFrame -> DataFrame, mode-agnostic)
# ---------------------------------------------------------------------------

def requests_per_host(events: DataFrame, key: str = "user_id") -> DataFrame:
    """A1 — keyed running count (StreamingJob.scala:149-151).

    The reference pre-projects ``(host, 1)`` before the shuffle
    (StreamingJob.scala:150); Catalyst's column pruning through the
    Exchange makes that automatic here.
    """
    return events.groupBy(key).agg(F.count(F.lit(1)).alias("n_requests"))


def first_event_per_host(events: DataFrame, key: str = "user_id") -> DataFrame:
    """A3 — stateful distinct / first-record-per-key
    (StreamingJob.scala:157-165, ``filterWithState`` over Set state).

    Batch form: deterministic "first" = minimum event_id per key (the
    reference's notion of "first seen" is arrival order, which a batch
    engine must pin to a total order to be reproducible).
    """
    return events.groupBy(key).agg(
        F.min("event_id").alias("first_event_id"),
        F.min_by("event_type", "event_id").alias("first_event_type"),
    )


def windowed_distinct_hosts(events: DataFrame, key: str = "user_id") -> DataFrame:
    """A5/Q2 — windowed count-distinct (StreamingJob.scala:94-96).

    The reference's "31-day window max over a running distinct count"
    is exactly the windowed COUNT(DISTINCT): the running count is
    monotone, so its window-max is the window-final count.
    """
    return events.groupBy(win_start("ts", WINDOW_31D)).agg(
        F.countDistinct(key).alias("n_unique_users")
    )


def top_host_per_window(events: DataFrame, key: str = "user_id") -> DataFrame:
    """A6/Q1 — windowed arg-max (StreamingJob.scala:91-92 ``maxBy``).

    Deterministic tie-break: highest key wins, matching the oracle's
    ``ORDER BY n_requests DESC, user_id DESC LIMIT 1`` per window.

    Plan note: ``max_by(key, struct(count, key))`` would be the obvious
    spelling, but struct-ordered aggregates can't use a hash-aggregate
    buffer — Spark falls back to SortAggregate (full sort of the
    per-key counts at every scale). Packing (count, key) into one
    BIGINT keeps the whole query in two-phase HashAggregate; valid
    while both values fit 32 bits (counts < 2^31 per window-key and a
    non-negative integral key < 2^32 — the fixtures' domain; for
    string keys use ``top_host_per_window_any_key``, whose only sort
    is over the already-reduced rows-at-max relation).
    """
    key_type = dict(events.dtypes).get(key)
    if key_type not in ("tinyint", "smallint", "int", "bigint"):
        # Packing is only exact for integral keys; route non-conforming
        # domains (e.g. the reference's string hosts) to the two-pass
        # HashAggregate form instead of silently corrupting results.
        raise TypeError(
            f"top_host_per_window packs (count,key) into one BIGINT and "
            f"requires an integral key; {key!r} is {key_type}. Use "
            f"top_host_per_window_any_key for string/general keys."
        )
    counts = events.groupBy(win_start("ts", WINDOW_31D), F.col(key)).agg(
        F.count(F.lit(1)).alias("n_requests")
    )
    return packed_argmax_counts(counts, key)


def packed_argmax_counts(counts: DataFrame, key: str = "user_id") -> DataFrame:
    """Packed-BIGINT arg-max over a pre-reduced (window_start, key,
    n_requests) relation — the reduction half of ``top_host_per_window``,
    shared with the streaming read side (ForeachBatchTopHost
    .resolved_counts), which produces exactly this relation from its
    keyed change log. Range constraints as documented above."""
    # Runtime guard for the range constraint (docstring): a key outside
    # [0, 2^32) cannot be packed exactly — fail loudly, never corrupt.
    guarded_key = F.when(
        (F.col(key) >= 0) & (F.col(key) < F.lit(4294967296)), F.col(key)
    ).otherwise(
        F.raise_error(
            F.format_string(
                "top_host_per_window: key %s out of packable range [0, 2^32)",
                F.col(key).cast("string"),
            )
        )
    )
    packed = F.col("n_requests") * F.lit(4294967296) + guarded_key
    best = counts.groupBy("window_start").agg(
        F.max(packed).alias("packed")
    )
    return best.select(
        "window_start",
        F.expr("packed % 4294967296").cast("long").alias("top_user"),
        F.expr("packed div 4294967296").cast("long").alias("n_requests"),
    )


def window_key_counts(
    events: DataFrame, key: str = "user_id", window: str = WINDOW_31D,
    ts: str = "ts", *aggs,
) -> DataFrame:
    """Step 1 of ``top_host_per_window_any_key``: per-(window, key)
    ``n_requests`` (one two-phase HashAggregate), plus any extra
    per-group ``aggs`` a caller wants carried in the same pass."""
    return events.groupBy(win_start(ts, window), F.col(key)).agg(
        F.count(F.lit(1)).alias("n_requests"), *aggs
    )


def top_key_per_window(counts: DataFrame, key: str = "user_id") -> DataFrame:
    """Step 2 of ``top_host_per_window_any_key``: the arg-max over a
    ``window_key_counts`` relation (columns ``window_start``, ``key``,
    ``n_requests``; others are ignored)."""
    wmax = counts.groupBy("window_start").agg(
        F.max("n_requests").alias("n_requests")
    )
    return (
        counts.join(F.broadcast(wmax), ["window_start", "n_requests"])
        .groupBy("window_start")
        .agg(
            F.max(key).alias("top_user"),
            F.first("n_requests").alias("n_requests"),
        )
        .select("window_start", "top_user", "n_requests")
    )


def top_host_per_window_any_key(
    events: DataFrame, key: str = "user_id", window: str = WINDOW_31D,
    ts: str = "ts",
) -> DataFrame:
    """A6/Q1 for arbitrary (incl. string) key domains — the reference's
    actual host key is a string (StreamingJob.scala:39,91), which the
    packed-BIGINT form can't carry.

    Two-pass HashAggregate shape that never sorts and never packs:
    1. per-(window, key) counts (``window_key_counts``);
    2. per-window max count;
    3. broadcast the tiny per-window maxima back onto the counts and
       keep rows at the max, then one more hash agg picks the
       deterministic tie-break winner (max key).
    Steps 2-3 are ``top_key_per_window``, split out so a caller that
    already holds the counts (``__main__.batch_queries``, which derives
    Q1-Q3 from one checkpointed counts table) runs the same arg-max.
    Both full-relation aggregations are two-phase HashAggregates and
    the reduction join broadcasts — the shapes that scale to 100 TB;
    no window function over the counts relation. The only sort is the
    final tie-break aggregate over the rows-at-max relation (~#windows
    rows; Spark cannot hash-aggregate string agg buffers) — asserted
    in tests/test_plans.py.
    """
    return top_key_per_window(window_key_counts(events, key, window, ts), key)


def top_k_hosts_per_window(
    events: DataFrame, k: int = 3, key: str = "user_id"
) -> DataFrame:
    """A6 generalized — top-k per window via ranking window function."""
    counts = events.groupBy(win_start("ts", WINDOW_31D), F.col(key)).agg(
        F.count(F.lit(1)).alias("n_requests")
    )
    order = W.partitionBy("window_start").orderBy(
        F.desc("n_requests"), F.desc(key)
    )
    return (
        counts.withColumn("rank", F.row_number().over(order))
        .filter(F.col("rank") <= k)
        .select("window_start", F.col(key), "n_requests", "rank")
    )


def windowed_floor_avg(events: DataFrame, value: str = "value") -> DataFrame:
    """A7/Q3 — windowed average with the reference's exact semantics
    (StreamingJob.scala:97-107): NULL sizes count as 0 in numerator AND
    denominator (``getOrElse(0)``, StreamingJob.scala:97) and the mean
    is floor-divided (Long division in the manual WindowFunction).
    """
    return events.groupBy(win_start("ts", WINDOW_31D)).agg(
        floor_avg(value).alias("avg_value_floor")
    )


# ---------------------------------------------------------------------------
# Registry entries (driver-checked surface)
# ---------------------------------------------------------------------------

@register(
    "ref_q1_top_host",
    oracle=f"""
    WITH c AS (
      SELECT {_ORACLE_WIN} AS window_start, user_id,
             count(*) AS n_requests
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, user_id AS top_user, n_requests
    FROM (SELECT *, row_number() OVER (
            PARTITION BY window_start
            ORDER BY n_requests DESC, user_id DESC) AS rn
          FROM c)
    WHERE rn = 1
    """,
    doc="Reference Q1: client with most requests per 31-day window",
    tags=("reference", "events"),
)
def q_ref_q1(spark, sf_dir):
    return top_host_per_window(load_table(prep(spark), sf_dir, "events"))


@register(
    "ref_q1_top_host_str",
    # Pandas pin: tests/test_rotation_pins.py.
    oracle=f"""
    WITH c AS (
      SELECT {_ORACLE_WIN} AS window_start,
             'user' || CAST(user_id AS VARCHAR) AS host,
             count(*) AS n_requests
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT window_start, max(n_requests) AS n_requests
      FROM c GROUP BY 1
    )
    SELECT c.window_start, max(c.host) AS top_user, c.n_requests
    FROM c JOIN m USING (window_start, n_requests)
    GROUP BY c.window_start, c.n_requests
    """,
    doc="Reference Q1 on the reference's ACTUAL key domain — string "
        "hosts (StreamingJob.scala:39,91): two-pass HashAggregate "
        "arg-max (windowed max count + broadcast semi-join back), no "
        "BIGINT packing, no SortAggregate",
    tags=("reference", "events", "string-key"),
)
def q_ref_q1_str(spark, sf_dir):
    ev = load_table(prep(spark), sf_dir, "events")
    hosts = ev.withColumn(
        "host", F.concat(F.lit("user"), F.col("user_id").cast("string"))
    )
    return top_host_per_window_any_key(hosts, key="host")


@register(
    "ref_q2_distinct_hosts",
    oracle=f"""
    SELECT {_ORACLE_WIN} AS window_start,
           count(DISTINCT user_id) AS n_unique_users
    FROM events GROUP BY 1
    """,
    doc="Reference Q2: number of unique clients per 31-day window",
    tags=("reference", "events"),
)
def q_ref_q2(spark, sf_dir):
    return windowed_distinct_hosts(load_table(prep(spark), sf_dir, "events"))


def cumulative_distinct_hosts(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Q2, reference-EXACT semantics: the reference pipes a stateful
    first-occurrence filter into a global running count and takes the
    window max (StreamingJob.scala:94-96) — i.e. each window reports
    the cumulative distinct-host count from stream start through window
    end, not the per-window distinct count. The two coincide on the
    single-window NASA month; they diverge on multi-window data, so
    both are registered (windowed variant: ref_q2_distinct_hosts).
    """
    firsts = events.groupBy(key).agg(F.min("ts").alias("first_ts"))
    new_per_window = firsts.groupBy(
        win_start("first_ts", WINDOW_31D)
    ).agg(F.count(F.lit(1)).alias("new_hosts"))
    # The reference's all-window fires for EVERY window containing
    # events, reporting the running count there even when no new host
    # appeared — so anchor on the set of event windows, not just the
    # windows where a host first appears.
    event_windows = events.groupBy(win_start("ts", WINDOW_31D)).agg(
        F.count(F.lit(1)).alias("_n")
    ).select("window_start")
    joined = event_windows.join(new_per_window, "window_start", "left").select(
        "window_start",
        F.coalesce("new_hosts", F.lit(0)).alias("new_hosts"),
    )
    cum = W.orderBy("window_start").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return joined.select(
        "window_start",
        F.sum("new_hosts").over(cum).alias("n_unique_clients_cumulative"),
    )


@register(
    "ref_q2_cumulative_distinct",
    # Pandas pin: tests/test_rotation_pins.py.
    oracle=f"""
    WITH firsts AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1
    ), new_per_window AS (
      SELECT CAST(floor(epoch(first_ts)/{_WIN_SECS})*{_WIN_SECS} AS BIGINT)
               AS window_start,
             count(*) AS new_hosts
      FROM firsts GROUP BY 1
    ), event_windows AS (
      SELECT DISTINCT {_ORACLE_WIN} AS window_start FROM events
    )
    SELECT w.window_start,
           CAST(sum(coalesce(n.new_hosts, 0)) OVER (ORDER BY w.window_start
             ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_unique_clients_cumulative
    FROM event_windows w LEFT JOIN new_per_window n USING (window_start)
    """,
    doc="Reference Q2 exact semantics: cumulative distinct clients at "
        "each window end (running-count window-max composition)",
    tags=("reference", "events"),
)
def q_ref_q2_cumulative(spark, sf_dir):
    return cumulative_distinct_hosts(load_table(prep(spark), sf_dir, "events"))


@register(
    "ref_q3_avg_reply_size",
    oracle=f"""
    SELECT {_ORACLE_WIN} AS window_start,
           CAST(floor(sum(coalesce(value, 0)) / count(*)) AS BIGINT)
             AS avg_value_floor,
           round(avg(value), 4) AS avg_value
    FROM events GROUP BY 1
    """,
    doc="Reference Q3: floor-average response size per 31-day window — "
        "BOTH semantics side by side: exact reference floor-avg with "
        "NULL-as-0 (StreamingJob.scala:97-107) and the idiomatic SQL "
        "AVG (NULLs excluded)",
    tags=("reference", "events"),
)
def q_ref_q3(spark, sf_dir):
    ev = load_table(prep(spark), sf_dir, "events")
    return ev.groupBy(win_start("ts", WINDOW_31D)).agg(
        floor_avg("value").alias("avg_value_floor"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


@register(
    "a1_requests_per_host",
    # Pandas pin: tests/test_rotation_pins.py.
    oracle="SELECT user_id, count(*) AS n_requests FROM events GROUP BY 1",
    doc="A1: keyed count",
    tags=("aggregate", "events"),
)
def q_a1(spark, sf_dir):
    return requests_per_host(load_table(prep(spark), sf_dir, "events"))


@register(
    "a2_count_events",
    # Pandas pin: tests/test_rotation_pins.py.
    # A2 (global count) and A4 (exact distinct count) in one entry:
    # both are single-pass global aggregates over the same scan, and
    # Spark computes them in one plan (expand + two-phase hash agg).
    oracle="""
    SELECT count(*) AS n_events,
           count(DISTINCT user_id) AS n_unique_users
    FROM events
    """,
    doc="A2+A4: global element count and exact distinct-key count "
        "(StreamingJob.scala:153-155, 167-169)",
    tags=("aggregate", "events"),
)
def q_a2(spark, sf_dir):
    ev = load_table(prep(spark), sf_dir, "events")
    return ev.groupBy().agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_unique_users"),
    )


@register(
    "a3_first_event_per_host",
    # Pandas pin: tests/test_rotation_pins.py.
    oracle="""
    SELECT user_id, min(event_id) AS first_event_id,
           arg_min(event_type, event_id) AS first_event_type
    FROM events GROUP BY 1
    """,
    doc="A3: stateful distinct -> deterministic first record per key",
    tags=("aggregate", "events"),
)
def q_a3(spark, sf_dir):
    return first_event_per_host(load_table(prep(spark), sf_dir, "events"))


@register(
    "a4_approx_distinct_hosts",
    oracle=None,  # HLL estimate: engine-specific, rows-only check
    doc="A4 at scale: HyperLogLog distinct (shuffles sketches, not keys)",
    tags=("aggregate", "events", "approx"),
)
def q_a4_approx(spark, sf_dir):
    ev = load_table(prep(spark), sf_dir, "events")
    return ev.groupBy().agg(
        F.approx_count_distinct("user_id", 0.01).alias("n_unique_users_approx")
    )


@register(
    "a6_top3_hosts_per_window",
    # Pandas pin: tests/test_rotation_pins.py.
    oracle=f"""
    WITH c AS (
      SELECT {_ORACLE_WIN} AS window_start, user_id,
             count(*) AS n_requests
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, user_id, n_requests, CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY window_start
            ORDER BY n_requests DESC, user_id DESC) AS rn
          FROM c)
    WHERE rn <= 3
    """,
    doc="A6 generalized: top-k clients per window",
    tags=("aggregate", "events", "topk"),
)
def q_a6_top3(spark, sf_dir):
    return top_k_hosts_per_window(load_table(prep(spark), sf_dir, "events"), k=3)


@register(
    "events_type_stats",
    # Pin: tests/test_rotation_pins.py
    oracle="""
    SELECT event_type, count(*) AS n_events,
           round(avg(value), 4) AS avg_value,
           round(sum(value), 2) AS sum_value,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY 1
    """,
    doc="Grouped multi-aggregate over event_type (P6/P7 projections) "
        "plus exact interpolated percentiles (at stream/100TB scale "
        "use approx_percentile sketches)",
    tags=("aggregate", "events", "percentile"),
)
def q_type_stats(spark, sf_dir):
    ev = load_table(prep(spark), sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


@register(
    "a1_running_counts_analytic",
    # Pin: tests/test_rotation_pins.py
    # Batch rendering of Flink's per-record update stream (A1): the
    # running count/sum each record would have emitted, via OVER
    # windows with a deterministic (ts, event_id) order.
    oracle="""
    SELECT user_id, event_id,
           CAST(row_number() OVER w AS BIGINT) AS running_count,
           round(sum(value) OVER w, 2) AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
    """,
    doc="A1 continuous-emission semantics in batch: per-record running "
        "aggregates via analytic windows",
    tags=("aggregate", "events", "analytic"),
)
def q_running_counts(spark, sf_dir):
    ev = load_table(prep(spark), sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("bigint").alias("running_count"),
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


@register(
    "events_json_props",
    # Pin: tests/test_rotation_pins.py
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
             AS avg_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS max_k,
           count(json_extract_string(props, '$.k')) AS n_with_k
    FROM events GROUP BY 1
    """,
    doc="JSON scalar extraction over events.props (get_json_object)",
    tags=("aggregate", "events", "json"),
)
def q_json_props(spark, sf_dir):
    ev = load_table(prep(spark), sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("bigint")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count(F.get_json_object("props", "$.k")).alias("n_with_k"),
    )
