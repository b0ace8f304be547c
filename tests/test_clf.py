"""Golden-file tests for the Common-Log-Format parser (P1-P5), per
SURVEY.md §5.2 item 3 — covers the text-ingestion path the parquet
oracle can't reach. Expected values hand-computed from the lines."""

from __future__ import annotations

import datetime as dt

import pytest

from flink_exercise_spark.sources.clf import (
    invalid_lines,
    parse_clf,
    valid_lines,
)

GOLDEN_LINES = [
    # valid, with bytes (FIXTURES.md §1)
    'ppp-mia-30.shadow.net - - [01/Aug/1995:00:00:27 -0400] "GET /history/ HTTP/1.0" 200 1502',
    # valid, 304 with 0 bytes
    'burger.letters.com - - [01/Aug/1995:00:00:12 -0400] "GET /shuttle/countdown/video/livevideo.gif HTTP/1.0" 304 0',
    # valid, '-' bytes -> NULL (P3) and the HTTP/V1.0 variant
    'pm13.j51.com - - [01/Aug/1995:00:05:29 -0400] "GET /images/cgi-bin HTTP/V1.0" 404 -',
    # valid, positive zone offset (beyond-reference coverage)
    'host.example.org - - [15/Aug/1995:13:30:00 +0200] "POST /cgi-bin/form HTTP/1.0" 200 99',
    # malformed -> corrupt channel (P5)
    "this line does not parse at all",
]


@pytest.fixture(scope="module")
def parsed(spark):
    raw = spark.createDataFrame([(l,) for l in GOLDEN_LINES], ["value"])
    return parse_clf(raw).collect(), valid_lines(
        parse_clf(raw)
    ).collect(), invalid_lines(parse_clf(raw)).collect()


def test_valid_invalid_split(parsed):
    _, valid, invalid = parsed
    assert len(valid) == 4
    assert len(invalid) == 1
    assert invalid[0]["raw"] == GOLDEN_LINES[4]


def test_first_line_fields(parsed):
    rows, _, _ = parsed
    r = rows[0]
    assert r["host"] == "ppp-mia-30.shadow.net"
    assert (r["day"], r["month"], r["year"]) == (1, "Aug", 1995)
    assert (r["hour"], r["minute"], r["second"]) == (0, 0, 27)
    assert r["timezone"] == "-0400"
    assert r["http_method"] == "GET"
    assert r["resource"] == "/history/"
    assert r["http_version"] == "HTTP/1.0"
    assert r["http_reply_code"] == 200
    assert r["reply_bytes"] == 1502


def test_timestamp_intended_semantics(parsed):
    """The reference's seconds-vs-millis bug (StreamingJob.scala:125-126)
    is NOT replicated: 01/Aug/1995:00:00:27 -0400 == 04:00:27 UTC."""
    rows, _, _ = parsed
    assert rows[0]["ts"] == dt.datetime(1995, 8, 1, 4, 0, 27)
    # positive offset: 13:30 +0200 == 11:30 UTC
    assert rows[3]["ts"] == dt.datetime(1995, 8, 15, 11, 30, 0)


def test_dash_bytes_null(parsed):
    rows, _, _ = parsed
    assert rows[2]["reply_bytes"] is None
    assert rows[2]["http_version"] == "HTTP/V1.0"


def test_malformed_sentinel(parsed):
    rows, _, _ = parsed
    bad = rows[4]
    assert bad["host"] == ""
    assert bad["ts"] is None
    assert bad["reply_bytes"] is None


def test_reference_q3_semantics_on_golden(spark):
    """floor-avg with NULL-as-0 over the golden log: (1502+0+0+99)/4
    = 400.25 -> 400 (the 404's NULL counts as 0 in both sum and
    denominator, StreamingJob.scala:97)."""
    from pyspark.sql import functions as F

    from flink_exercise_spark.functions.scalars import floor_avg

    raw = spark.createDataFrame([(l,) for l in GOLDEN_LINES], ["value"])
    v = valid_lines(parse_clf(raw))
    got = v.groupBy().agg(floor_avg("reply_bytes").alias("a")).collect()
    assert got[0]["a"] == 400
    # and the idiomatic AVG differs (NULL excluded): (1502+0+99)/3
    idiomatic = v.groupBy().agg(F.floor(F.avg("reply_bytes")).alias("a")).collect()
    assert idiomatic[0]["a"] == 533


def test_parse_clf_schema_pinned(spark):
    """The typed LogLine schema, nullability included: the determinism
    barrier on ``host`` must not change it (string groups keep the ''
    sentinel and stay non-null; numeric groups and ``ts`` are NULL on
    a non-matching line)."""
    raw = spark.createDataFrame([(l,) for l in GOLDEN_LINES], ["value"])
    got = [
        (f.name, f.dataType.simpleString(), f.nullable)
        for f in parse_clf(raw).schema.fields
    ]
    assert got == [
        ("raw", "string", True),
        ("host", "string", False),
        ("day", "int", True),
        ("month", "string", False),
        ("year", "int", True),
        ("hour", "int", True),
        ("minute", "int", True),
        ("second", "int", True),
        ("timezone", "string", False),
        ("ts", "timestamp", True),
        ("http_method", "string", False),
        ("resource", "string", False),
        ("http_version", "string", False),
        ("http_reply_code", "int", True),
        ("reply_bytes", "int", True),
    ]


# The CLI batch Q1-Q3 output schemas, (name, type, nullable).
BATCH_SCHEMAS = (
    [("window_start", "bigint", True), ("top_client", "string", True),
     ("n_requests", "bigint", True)],
    [("window_start", "bigint", True), ("n_unique_clients", "bigint", False)],
    [("window_start", "bigint", True), ("avg_reply_bytes", "bigint", True)],
)


def _schemas(dfs):
    return tuple(
        [(f.name, f.dataType.simpleString(), f.nullable)
         for f in df.schema.fields]
        for df in dfs
    )


def test_cli_batch_answers_on_golden_log(spark):
    """The CLI's batch Q1-Q3 per window equal the hand-computed values
    of the clf_golden_log VALUES oracle (sources/clf.py), with the
    pinned output schemas."""
    from flink_exercise_spark.__main__ import batch_queries
    from flink_exercise_spark.sources.clf import GOLDEN_LOG_PATH

    logs = valid_lines(parse_clf(spark.read.text(GOLDEN_LOG_PATH)))
    q1, q2, q3 = batch_queries(logs)
    assert _schemas((q1, q2, q3)) == BATCH_SCHEMAS
    assert sorted(tuple(r) for r in q1.collect()) == [
        (806198400, "piweba3y.prodigy.com", 4),
        (808876800, "piweba3y.prodigy.com", 7),
    ]
    assert sorted(tuple(r) for r in q2.collect()) == [
        (806198400, 8), (808876800, 8),
    ]
    assert sorted(tuple(r) for r in q3.collect()) == [
        (806198400, 27082), (808876800, 23343),
    ]


EDGE_LINES = [
    # July 1995 window: a.com and b.com tie at the maximum (2 each),
    # so the max host, b.com, wins; c.com has one request.
    'a.com - - [03/Jul/1995:10:00:00 -0400] "GET /a HTTP/1.0" 200 100',
    'a.com - - [03/Jul/1995:11:00:00 -0400] "GET /b HTTP/1.0" 200 -',
    'b.com - - [04/Jul/1995:09:00:00 +0000] "GET /c HTTP/1.0" 200 7',
    'b.com - - [05/Jul/1995:09:00:00 +0200] "HEAD /d HTTP/V1.0" 304 0',
    'c.com - - [06/Jul/1995:00:00:00 -0400] "POST /e HTTP/1.0" 200 50',
    # A later window where every size is '-': Q3 is 0, not NULL.
    'd.com - - [25/Aug/1995:12:00:00 -0400] "GET /f HTTP/1.0" 404 -',
    'd.com - - [26/Aug/1995:12:00:00 -0400] "GET /g HTTP/1.0" 404 -',
    'e.com - - [27/Aug/1995:12:00:00 -0400] "GET /h HTTP/1.0" 404 -',
    # Malformed lines: dropped by every query.
    "not a log line",
    "",
    'x.com - - [03/Jul/1995:10:00:00 -0400] "GET /a HTTP/1.0" 200 12ab',
    'x.com - - [03/Jul/1995:10:00:00] "GET /a HTTP/1.0" 200 1',
]


def _plain_python_answers(lines):
    """Q1-Q3 per window from ``lines`` with ``re`` and ``datetime`` only."""
    import re
    from collections import Counter, defaultdict

    clf = re.compile(
        r'^(\S+) - - \[(\d{2}/\w{3}/\d{4}:\d{2}:\d{2}:\d{2} [+-]\d{4})\] '
        r'"\w+ \S+ HTTP/V?\d\.\d" \d{3} (\d+|-)$'
    )
    span = 31 * 86400
    hosts, sizes = defaultdict(Counter), defaultdict(list)
    for line in lines:
        m = clf.match(line)
        if not m:
            continue
        t = dt.datetime.strptime(m[2], "%d/%b/%Y:%H:%M:%S %z").timestamp()
        w = int(t) // span * span
        hosts[w][m[1]] += 1
        sizes[w].append(0 if m[3] == "-" else int(m[3]))
    q1 = {w: max((n, h) for h, n in c.items())[::-1] for w, c in hosts.items()}
    q2 = {w: len(c) for w, c in hosts.items()}
    q3 = {w: sum(s) // len(s) for w, s in sizes.items()}
    return q1, q2, q3


def test_cli_batch_edge_cases_match_plain_python(spark):
    """Ties, an all-'-' window, malformed lines and two windows: the
    CLI's batch Q1-Q3 equal a plain-Python evaluation of the lines."""
    from flink_exercise_spark.__main__ import batch_queries

    raw = spark.createDataFrame([(l,) for l in EDGE_LINES], ["value"])
    q1, q2, q3 = batch_queries(valid_lines(parse_clf(raw)))
    got = (
        {r[0]: (r[1], r[2]) for r in q1.collect()},
        {r[0]: r[1] for r in q2.collect()},
        {r[0]: r[1] for r in q3.collect()},
    )
    want = _plain_python_answers(EDGE_LINES)
    assert got == want
    # The edge cases are really there.
    july, aug = sorted(want[0])
    assert want[0][july] == ("b.com", 2)
    assert (want[1][july], want[1][aug]) == (3, 2)
    assert want[2][aug] == 0


def test_cli_batch_empty_input(spark):
    """No lines: three empty results with the pinned schemas."""
    from flink_exercise_spark.__main__ import batch_queries

    raw = spark.createDataFrame([], "value string")
    qs = batch_queries(valid_lines(parse_clf(raw)))
    assert _schemas(qs) == BATCH_SCHEMAS
    assert [q.collect() for q in qs] == [[], [], []]
