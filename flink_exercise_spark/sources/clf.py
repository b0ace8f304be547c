"""Common-Log-Format ingestion — SURVEY.md §2.2 (P1–P5).

The reference parses the NASA Aug-1995 access log with a 13-group regex
inside a per-record Scala function (StreamingJob.scala:112-138, pattern
at :69), emitting a sentinel record (empty host) for non-matching lines
(:135) — a permissive-parse + corrupt-record-filter scheme.

Spark-first form: one ``select`` of ``regexp_extract`` expressions over
the raw text column — Catalyst folds all groups into a single projection
evaluated once per row inside whole-stage codegen, so the "13 extracts"
cost one regex match, with no UDF and no Python. The invalid channel is
the same predicate inverted (P5, StreamingJob.scala:145-147).

Timestamp semantics: the reference has a seconds-vs-milliseconds bug
(StreamingJob.scala:125-126; ``new Date(toEpochSecond(...))`` feeds
SECONDS into a MILLISECONDS constructor) that happens not to affect its
single-window output. We implement the intended semantics — a correct
``to_timestamp`` with explicit zone offset (SURVEY.md §1.4 records the
behavior-over-bug decision).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.functions.exprmemo import expr_memo

# Common Log Format with explicit zone offset; group numbers:
#  1 host, 2 day, 3 month, 4 year, 5 hour, 6 minute, 7 second,
#  8 tz offset, 9 method, 10 resource, 11 http version, 12 status,
#  13 bytes ('-' when absent).
# Reference pattern at StreamingJob.scala:69 (ours also accepts '+'
# offsets and HTTP/1.1, per the public CLF spec).
CLF_PATTERN = (
    r'^(\S+) - - \[(\d{2})/(\w{3})/(\d{4}):(\d{2}):(\d{2}):(\d{2})'
    r' ([+-]\d{4})\] "(\w{1,6}) ([^ "]+) *(HTTP/V?\d\.\d) *" '
    r"(\d{3}) (\d{1,9}|-)$"
)

TIMESTAMP_FORMAT = "dd/MMM/yyyy:HH:mm:ss Z"

# Single-pass parse plumbing: the anchored pattern matches at most once,
# so one regexp_replace rewrites a matching line into SENTINEL FS g1 FS
# ... FS g13 (FS = \x01, never present in log text); a non-matching line
# passes through unchanged and therefore lacks the leading sentinel
# field. One split then yields every capture group — the regex executes
# once per row instead of once per extracted group (Catalyst does not
# CSE regexp_extract across group indices; the reference also matches
# once per record, StreamingJob.scala:114).
_FS = "\x01"
_SENTINEL = "\x02"
_REPLACEMENT = _SENTINEL + _FS + _FS.join(f"${g}" for g in range(1, 14))


def parse_clf(raw: DataFrame, column: str = "value") -> DataFrame:
    """P1+P2+P3 — raw text lines -> typed LogLine records.

    Non-matching lines keep ``host = ''``, the reference's sentinel
    convention (StreamingJob.scala:135). NULL-able ``reply_bytes``:
    ``'-'`` -> NULL via try_cast (P3).
    """
    # Bind the regex output and the split array as named columns in
    # their own projections: CollapseProject never inlines a
    # multiply-referenced non-trivial alias, so each evaluates exactly
    # once per row (asserted in tests/test_plans.py).
    #
    # Two determinism barriers keep every downstream filter reading
    # computed columns. Pushing a Filter through a Project requires
    # every project expression to be deterministic; otherwise Catalyst
    # pushes it by SUBSTITUTING the aliases, and FilterExec does no
    # subexpression elimination, so each substituted copy runs per row
    # before the projection computes it all again.
    # 1. ``_p``: the split limit is -1 + rand*0. It blocks the regex
    #    re-drive: without it a filter on any parsed column inlines the
    #    regexp_replace+split chain into the Filter, and on a derived
    #    input the filter sinks below the ``spread`` repartition onto
    #    the scan's one un-spread partition. Measured: 0.97 s vs 0.42 s
    #    on the rendered round-trip at sf0.1; 10.2 s vs 0.85 s of task
    #    CPU for the (window, host) counts of 80k lines on 4 cores.
    # 2. The typed-column projection: ``host``'s group index is
    #    1 + rand*0 (see _parse_columns). It blocks the re-parse:
    #    without it valid_lines' ``host != ''`` and the isnotnull(ts)/
    #    isnotnull(window_start) filters Catalyst infers from a join key
    #    (batch Q1 joins counts to per-window maxima) sink below this
    #    projection, inlining the timestamp parse and its ``ok`` guard
    #    about four times. Measured on 80k lines, 4 cores: the clf_batch
    #    pass fell from 6.5 s to 1.5 s of task CPU and Q1 from 1.8 s to
    #    0.47 s wall. The barrier sits on ``host`` because ColumnPruning
    #    drops unreferenced columns, non-deterministic ones included,
    #    and every validity filter reads ``host``.
    # Both barriers must stay arithmetic: Catalyst folds the
    # ``CASE WHEN rand(0) >= 0 THEN x ELSE ... END`` form away, but not
    # rand*0.0. rand(seed=0), NOT rand(): an unseeded rand draws a fresh
    # seed at every plan build, so two builds of the same query produce
    # different codegen source and every execution pays a whole-stage
    # codegen + JIT recompile (~0.5 s, measured). A pinned seed keeps
    # the expression non-deterministic while the generated code stays
    # byte-identical across builds — codegen cache hit.
    # The three expression trees are memoized per input column name
    # (functions/exprmemo.py): ~0.2 s of py4j construction per call,
    # paid once per process instead of once per parse.
    split_df = raw.withColumn(
        "_m",
        expr_memo(
            ("parse_clf._m", column),
            lambda: F.regexp_replace(F.col(column), CLF_PATTERN, _REPLACEMENT),
        ),
    ).withColumn(
        "_p",
        expr_memo(
            "parse_clf._p",
            lambda: F.split(
                F.col("_m"),
                F.lit(_FS),
                F.lit(-1) + _nondeterministic_zero(),
            ),
        ),
    )
    return split_df.select(
        *expr_memo(
            ("parse_clf.columns", column), lambda: _parse_columns(column)
        )
    )


def _nondeterministic_zero() -> Column:
    """Identically 0, but non-deterministic: the determinism barrier
    (see parse_clf)."""
    return (F.rand(seed=0) * F.lit(0.0)).cast("int")


def _parse_columns(column: str) -> list[Column]:
    # Guard: sentinel present (pattern matched), exactly 14 fields (a
    # matching line whose captured text itself contained \x01 would
    # split into >14 fields and silently shift every column), and the
    # raw line is separator-free. Together these make host == '' hold
    # EXACTLY when `NOT (raw RLIKE pattern AND raw not-contains \x01)`
    # — the predicate valid_lines() filters on via the host sentinel.
    ok = (
        (F.get("_p", 0) == _SENTINEL)
        & (F.size("_p") == 14)
        & ~F.col(column).contains(_FS)
    )

    def g(i: int | Column) -> Column:
        # F.get is NULL-safe out of bounds (non-matching lines split to
        # a single field), and the `ok` guard rejects pathological
        # lines that contain \x01 themselves.
        return F.when(ok, F.get("_p", i))

    def s(i: int | Column) -> Column:
        # String groups keep the reference's '' no-match sentinel.
        return F.coalesce(g(i), F.lit(""))

    ts_text = F.concat(
        g(2), F.lit("/"), g(3), F.lit("/"),
        g(4), F.lit(":"), g(5), F.lit(":"),
        g(6), F.lit(":"), g(7), F.lit(" "), g(8),
    )
    return [
        F.col(column).alias("raw"),
        # The output projection's barrier (see parse_clf); s()'s
        # coalesce keeps host non-null, as for every string group.
        s(F.lit(1) + _nondeterministic_zero()).alias("host"),
        g(2).try_cast("int").alias("day"),
        s(3).alias("month"),
        g(4).try_cast("int").alias("year"),
        g(5).try_cast("int").alias("hour"),
        g(6).try_cast("int").alias("minute"),
        g(7).try_cast("int").alias("second"),
        s(8).alias("timezone"),
        F.try_to_timestamp(ts_text, F.lit(TIMESTAMP_FORMAT)).alias("ts"),
        s(9).alias("http_method"),
        s(10).alias("resource"),
        s(11).alias("http_version"),
        g(12).try_cast("int").alias("http_reply_code"),
        F.nullif(g(13), F.lit("-")).try_cast("int").alias("reply_bytes"),
    ]


def valid_lines(parsed: DataFrame) -> DataFrame:
    """P4 — keep successfully parsed records
    (StreamingJob.scala:141-143). ``host != ''`` is EXACTLY the
    parse-success predicate by construction (see the ``ok`` guard in
    parse_clf: a matching line's host group is \\S+, never empty; every
    non-match — including a NULL line — yields the '' sentinel). The
    filter is plain and deterministic; the non-deterministic ``host``
    column is what stops Catalyst from substituting the parse into it,
    so it reads the computed ``host`` (see the barrier comment in
    parse_clf)."""
    return parsed.filter(F.col("host") != F.lit(""))


def invalid_lines(parsed: DataFrame) -> DataFrame:
    """P5 — corrupt-record channel, projected back to the raw line
    (StreamingJob.scala:145-147; dead code in the reference — a live
    operator here). The ``raw IS NOT NULL`` conjunct preserves the
    r12 semantics where a NULL input line lands in NEITHER channel
    (the old NOT(NULL AND ...) = NULL predicate dropped it here too).
    """
    return parsed.filter(
        (F.col("host") == F.lit("")) & F.col("raw").isNotNull()
    ).select("raw")


def events_as_clf_lines(events: DataFrame) -> DataFrame:
    """Render the events fixture as CLF text lines (test vehicle: the
    fixtures ship no raw log file, so we manufacture one; the driver's
    oracle then checks the parse+aggregate round trip against the
    original columns)."""
    line = F.format_string(
        'user%d - - [%s] "GET /page/%d HTTP/1.0" 200 %d',
        F.col("user_id"),
        F.concat(
            F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss"), F.lit(" +0000")
        ),
        F.pmod(F.col("event_id"), F.lit(100)),
        F.floor("value").cast("int"),
    )
    return events.select(line.alias("value"))


# Checked-in golden log: 44 valid NASA-format lines (incl. '-' bytes,
# HTTP/V1.0, POST/HEAD, a positive-offset-free -0400 zone) + 3 malformed
# lines, spanning TWO epoch-aligned 31-day windows. Oracle values below
# were hand-computed from the file with plain Python (no Spark, no
# DuckDB) when it was generated; the file is immutable test data.
GOLDEN_LOG_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "data",
    "nasa_sample.log",
)


def _register_roundtrip() -> None:
    from flink_exercise_spark.registry import register
    from flink_exercise_spark.session import prep
    from flink_exercise_spark.sources.tables import load_table, spread

    @register(
        "clf_parse_roundtrip",
        # Pin: tests/test_clf.py golden-log hand-computed reference.
        # Oracle computes straight on events: host = 'user'||user_id,
        # bytes = floor(value); windows truncate ts to whole seconds
        # (CLF carries second precision), which cannot move an event
        # across an integer-second window boundary.
        oracle="""
        SELECT 'user' || CAST(user_id AS VARCHAR) AS host,
               count(*) AS n_requests,
               CAST(sum(CAST(floor(value) AS INT)) AS BIGINT) AS total_bytes
        FROM events GROUP BY 1
        """,
        doc="CLF regex parser P1-P4 under the oracle gate: render events "
            "as log lines, parse back, aggregate per host",
        tags=("clf", "source", "events"),
    )
    def q_clf_roundtrip(spark, sf_dir):
        events = load_table(prep(spark), sf_dir, "events")
        # spread BEFORE rendering: the single-file fixture arrives as
        # one partition, and BOTH per-row-expensive projections (the
        # format_string rendering and the regex parse) must run on all
        # cores, so the repartition goes upstream of each.
        parsed = valid_lines(parse_clf(events_as_clf_lines(spread(events))))
        return parsed.groupBy("host").agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.sum("reply_bytes").alias("total_bytes"),
        )

    @register(
        "clf_golden_log",
        # Pin: tests/test_clf.py golden-log hand-computed reference.
        # VALUES oracle: expected outputs hand-computed from the
        # immutable checked-in log (see GOLDEN_LOG_PATH comment) — this
        # pins P1-P5 parsing + Q1 (string-key arg-max) + Q2 (windowed
        # distinct) + Q3 (floor-avg, NULL-as-0) end to end on real
        # text-file input, which the parquet-based oracles cannot reach.
        oracle="""
        SELECT * FROM (VALUES
          (CAST(806198400 AS BIGINT), 'piweba3y.prodigy.com',
           CAST(4 AS BIGINT), CAST(8 AS BIGINT), CAST(27082 AS BIGINT),
           CAST(22 AS BIGINT)),
          (CAST(808876800 AS BIGINT), 'piweba3y.prodigy.com',
           CAST(7 AS BIGINT), CAST(8 AS BIGINT), CAST(23343 AS BIGINT),
           CAST(22 AS BIGINT))
        ) AS t(window_start, top_user, n_requests, n_unique_hosts,
               avg_bytes_floor, n_events)
        """,
        doc="Reference Q1+Q2+Q3 over a checked-in real-format NASA log "
            "(44 valid + 3 malformed lines, two 31-day windows): "
            "text source -> single-pass parse -> string-key windowed "
            "arg-max / distinct count / floor-avg",
        tags=("clf", "source", "reference", "golden"),
    )
    def q_clf_golden(spark, sf_dir):
        from flink_exercise_spark.functions.scalars import floor_avg, win_start
        from flink_exercise_spark.operators.aggregates import (
            WINDOW_31D,
            top_host_per_window_any_key,
        )

        parsed = valid_lines(
            parse_clf(prep(spark).read.text(GOLDEN_LOG_PATH))
        )
        top = top_host_per_window_any_key(parsed, key="host")
        per_win = parsed.groupBy(win_start("ts", WINDOW_31D)).agg(
            F.countDistinct("host").alias("n_unique_hosts"),
            floor_avg("reply_bytes").alias("avg_bytes_floor"),
            F.count(F.lit(1)).alias("n_events"),
        )
        return top.join(per_win, "window_start").select(
            "window_start", "top_user", "n_requests", "n_unique_hosts",
            "avg_bytes_floor", "n_events",
        )


_register_roundtrip()
