"""Time-series pattern similarity search over per-key event value
series — the operator family of "Time Series Similarity Search for
Streaming Data in Distributed Systems" (EDBT 2019; retrieved in
PAPERS.md), re-expressed Spark-first.

Shape: per-key ordered value sequence (one hash-agg with an in-group
sort), sliding subsequences via sequence+explode (logical replication
only — Tungsten materializes the slice per row), z-normalized
correlation against a (tiny, literal) query pattern as pure Column
folds, exact top-k via TakeOrderedAndProject. No UDFs, no window-sort
over the full corpus.

Scale notes: ``pattern_search`` / ``pattern_search_vectorized``
materialize each key's full series in one aggregation buffer — fine
while events-per-key is bounded, a ceiling for unbounded per-key
history. ``pattern_search_bucketed`` (the registered form) removes
that ceiling: it buckets the series by (key, day) with an L−1-event
overlap so boundary-straddling windows score identically, bounding
every buffer by events-per-(key, day) + L−1 while keeping the scoring
kernel unchanged. Subsequence fan-out is (n-L+1) rows per key, each
carrying an L-element slice: for L=8 that is ~8 doubles per row,
narrow by construction. The pattern is broadcast as a literal array;
z-normalization of the PATTERN is precomputed in Python — k floats,
not data.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table

PATTERN_LEN = 8
TOP_K = 20


def znorm(pattern: list[float]) -> list[float]:
    """Z-normalize a query pattern driver-side (k floats, not data)."""
    m = sum(pattern) / len(pattern)
    ss = math.sqrt(sum((x - m) ** 2 for x in pattern))
    if ss == 0:
        raise ValueError("constant pattern has no direction to match")
    return [(x - m) / ss for x in pattern]


# Default query pattern: a steady upward ramp (z-normalized).
RAMP = znorm([float(i) for i in range(PATTERN_LEN)])


def pattern_search(
    events: DataFrame,
    pattern: list[float] | None = None,
    k: int = TOP_K,
    key: str = "user_id",
    value: str = "value",
) -> DataFrame:
    """Top-k (key, offset) subsequences of each key's time-ordered
    value series most correlated with the z-normalized ``pattern``.

    match_score = <w - mean(w), pattern> / ||w - mean(w)|| — i.e.
    Pearson-style z-normalized correlation in [-1, 1], computed with
    plain sum/compensation-free folds so the DuckDB oracle reproduces
    it bit-for-bit at 6 rounded digits. Flat windows (zero variance)
    carry no direction and are excluded. Ordering is total and
    deterministic: (score desc, key, offset).
    """
    pat = pattern or RAMP
    L = len(pat)

    # Deterministic per-key series: sort by (ts, value) — a total order
    # even under timestamp ties. collect_list order is otherwise
    # partition-dependent.
    seq = (
        events.groupBy(key)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts"), F.col(value)))
            ).alias("_s")
        )
        .select(
            F.col(key),
            F.expr(f"transform(_s, x -> x.{value})").alias("vals"),
        )
    )
    n = F.size("vals")
    offsets = F.when(n >= L, F.sequence(F.lit(1), n - L + 1)).otherwise(
        F.array().cast("array<int>")
    )
    win = seq.select(
        F.col(key),
        F.explode(offsets).alias("offset"),
        F.col("vals"),
    ).select(
        F.col(key), "offset", F.slice("vals", F.col("offset"), L).alias("w")
    )
    acc = "CAST(0.0 AS DOUBLE)"
    m = F.expr(f"aggregate(w, {acc}, (a, x) -> a + x)") / F.lit(float(L))
    win = win.withColumn("_m", m)
    ss = F.expr(
        f"aggregate(w, {acc}, (a, x) -> a + (x - _m) * (x - _m))"
    )
    win = win.withColumn("_ss", ss).filter(F.col("_ss") > 0)
    pat_sql = "array(" + ", ".join(f"CAST({p!r} AS DOUBLE)" for p in pat) + ")"
    dot = F.expr(
        f"aggregate(zip_with(w, {pat_sql}, (x, p) -> (x - _m) * p), "
        f"{acc}, (a, x) -> a + x)"
    )
    scored = win.select(
        F.col(key),
        "offset",
        F.round(dot / F.sqrt(F.col("_ss")), 6).alias("match_score"),
    )
    return scored.orderBy(
        F.desc("match_score"), F.col(key), F.col("offset")
    ).limit(k)


def pattern_search_vectorized(
    events: DataFrame,
    pattern: list[float] | None = None,
    k: int = TOP_K,
    key: str = "user_id",
    value: str = "value",
) -> DataFrame:
    """Same semantics as ``pattern_search``, scored in an Arrow-batched
    numpy kernel instead of Column folds.

    Why it exists: Catalyst higher-order functions (aggregate/zip_with)
    evaluate as interpreted expressions — they do not fuse into
    whole-stage codegen — and at sf1 DuckDB's vectorized list kernels
    beat the fold form ~3x (BENCH_SF1.md). This variant keeps the
    distributed shape (per-key series, series-local scoring, global
    TakeOrdered top-k) and moves only the inner loop to numpy:
    ``sliding_window_view`` scores every subsequence of a series in one
    vectorized pass — O(n*L) flops with no per-element expression
    dispatch and no explode fan-out (the (n-L+1) x L window matrix is a
    stride view, never materialized). The declarative form stays the
    oracle-checked reference; this is the documented escape hatch for
    when the op is hot (test asserts bit-equality at 6 rounded digits).
    """
    import numpy as np

    pat = np.asarray(pattern or RAMP, dtype=np.float64)
    L = len(pat)

    seq = (
        events.groupBy(key)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts"), F.col(value)))
            ).alias("_s")
        )
        .select(
            F.col(key).alias("_key"),
            F.expr(f"transform(_s, x -> x.{value})").alias("vals"),
        )
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            keys_out, offs_out, scores_out = [], [], []
            for kval, vals in zip(pdf["_key"], pdf["vals"]):
                v = np.asarray(vals, dtype=np.float64)
                s, keep = _score_windows(v, pat, L)
                n_keep = int(keep.sum())
                if not n_keep:
                    continue
                keys_out.append(np.full(n_keep, kval, dtype=np.int64))
                offs_out.append(np.nonzero(keep)[0].astype(np.int32) + 1)
                scores_out.append(s[keep])
            if keys_out:
                yield pd.DataFrame(
                    {
                        key: np.concatenate(keys_out),
                        "offset": np.concatenate(offs_out),
                        "match_score": np.concatenate(scores_out),
                    }
                )

    scored = seq.mapInPandas(
        score, schema=f"{key} long, offset int, match_score double"
    )
    return scored.orderBy(
        F.desc("match_score"), F.col(key), F.col("offset")
    ).limit(k)


def _score_windows(v, pat, L):
    """Vectorized scoring kernel shared by the full-series and bucketed
    variants (bit-equality between them is by construction): returns
    (scores, keep) over all length-L sliding windows of ``v`` — scores
    rounded to 6 digits, ``keep`` False where the window is flat
    (zero variance carries no direction)."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    if v.size < L:
        return (
            np.empty(0, dtype=np.float64),
            np.zeros(0, dtype=bool),
        )
    w = sliding_window_view(v, L)                      # (n-L+1, L) view
    m = w.mean(axis=1, keepdims=True)
    c = w - m
    ss = np.einsum("ij,ij->i", c, c)
    with np.errstate(invalid="ignore", divide="ignore"):
        s = np.round(c @ pat / np.sqrt(ss), 6)
    return s, ss > 0


def pattern_search_bucketed(
    events: DataFrame,
    pattern: list[float] | None = None,
    k: int = TOP_K,
    key: str = "user_id",
    value: str = "value",
    bucket_secs: int = 86400,
) -> DataFrame:
    """Same semantics (and bit-equal scores/offsets) as
    ``pattern_search``, with BOUNDED per-group memory: the scale form
    for unbounded per-key history.

    Instead of collecting each key's full series into one aggregation
    buffer, the series is bucketed by (key, day):

    1. one hash-agg builds each (key, day)'s SORTED value array — a
       buffer bounded by events-per-(key, day), never the lifetime
       series (day is monotone in ts, so concatenating buckets in day
       order reproduces the full series' (ts, value) sort order);
    2. the window functions then run over the BUCKET-LEVEL relation
       (one row per (key, day), not per event): a running sum of
       bucket sizes gives each bucket's global 1-based offset base,
       and a bounded following-rows frame collects the first L−1
       values of the next nonempty bucket(s) — the overlap a window
       starting on this bucket's last events needs (L−1 values span
       at most L−1 following buckets, each holding ≥1 event);
    3. each bucket scores only the windows that START in its own
       values (the first ``n`` of the concatenated array), so every
       boundary-straddling window is scored exactly once, with all L
       values present, by the same kernel as the full-series form.

    Buffer bounds: the event-level agg holds one (key, day) of data;
    the bucket-level overlap frame holds ≤ L−1 bucket arrays. The
    emitted (key, offset, match_score) rows are identical to
    ``pattern_search``'s, so the same oracle checks this form.

    Domain (narrower than the declarative reference form, stated
    rather than latent — ADVICE r5): keys must be integral and
    NULL-key rows are EXCLUDED (filtered below) — the numpy kernel
    packs keys as int64, and a NULL series key identifies nothing
    worth pattern-matching anyway. ``pattern_search`` tolerates NULL
    keys, so the bit-equality contract (test_timeseries.py) holds on
    the non-NULL-key subset. Bucket ids use floor division, so
    pre-epoch timestamps bucket uniformly too (a truncate-toward-zero
    day would merge the two days around the epoch — harmless for
    correctness since concatenation order only needs monotonicity,
    but floor keeps the buffer-bound story uniform).
    """
    import numpy as np
    from pyspark.sql import Window as W

    pat = np.asarray(pattern or RAMP, dtype=np.float64)
    L = len(pat)

    buckets = (
        events.filter(F.col(key).isNotNull())
        .select(
            F.col(key).alias("_key"),
            F.col("ts").alias("_ts"),
            F.col(value).cast("double").alias("_v"),
            F.floor(F.unix_timestamp("ts") / F.lit(bucket_secs)).alias(
                "_day"
            ),
        )
        .groupBy("_key", "_day")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(_ts, _v))), "
                   "x -> x._v)").alias("vals"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    by_day = W.partitionBy("_key").orderBy("_day")
    seq = buckets.select(
        "_key",
        "vals",
        F.coalesce(
            F.sum("_n").over(
                by_day.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_base"),
        # First L-1 values of the following bucket(s): flatten at most
        # L-1 following arrays, keep the head. The frame is bounded, so
        # the window buffer is too.
        F.slice(
            F.coalesce(
                F.flatten(
                    F.collect_list("vals").over(
                        by_day.rowsBetween(1, L - 1)
                    )
                ),
                F.array().cast("array<double>"),
            ),
            1,
            L - 1,
        ).alias("_overlap"),
    )

    def score(batches):
        # Day buckets are numerous and small (one key-day each), so a
        # per-group Python loop would dominate the stage. Instead each
        # Arrow batch is scored in ONE vectorized pass: concatenate
        # every group's (vals ++ overlap) segment, run the kernel over
        # the concatenation, then mask to windows that (a) START in
        # their group's own values and (b) fit inside their segment —
        # which also discards the meaningless windows the concatenation
        # manufactures across segment boundaries.
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vals_l = [np.asarray(a, dtype=np.float64) for a in pdf["vals"]]
            ov_l = [
                np.asarray(a, dtype=np.float64) for a in pdf["_overlap"]
            ]
            n_own = np.fromiter(map(len, vals_l), np.int64, len(vals_l))
            seg_len = n_own + np.fromiter(map(len, ov_l), np.int64, len(ov_l))
            big = np.concatenate(
                [x for pair in zip(vals_l, ov_l) for x in pair]
            )
            s, keep = _score_windows(big, pat, L)
            gid = np.repeat(np.arange(len(seg_len)), seg_len)
            seg_start = np.concatenate(([0], np.cumsum(seg_len)[:-1]))
            local = np.arange(big.size) - seg_start[gid]
            valid = (local < n_own[gid]) & (local <= seg_len[gid] - L)
            keep &= valid[: keep.size]
            idx = np.nonzero(keep)[0]
            if not idx.size:
                continue
            base = pdf["_base"].to_numpy(np.int64)
            keys = pdf["_key"].to_numpy(np.int64)
            yield pd.DataFrame(
                {
                    key: keys[gid[idx]],
                    "offset": (base[gid[idx]] + local[idx] + 1).astype(
                        np.int32
                    ),
                    "match_score": s[idx],
                }
            )

    scored = seq.mapInPandas(
        score, schema=f"{key} long, offset int, match_score double"
    )
    return scored.orderBy(
        F.desc("match_score"), F.col(key), F.col("offset")
    ).limit(k)


def _oracle(pattern: list[float], k: int = TOP_K, L: int = PATTERN_LEN) -> str:
    pat = "[" + ", ".join(f"CAST({p!r} AS DOUBLE)" for p in pattern) + "]"
    return f"""
    WITH seq AS (
      SELECT user_id, array_agg(value ORDER BY ts, value) AS vals
      FROM events GROUP BY user_id
    ), win AS (
      SELECT user_id, CAST(off AS INT) AS "offset",
             list_slice(vals, off, off + {L} - 1) AS w
      FROM seq, unnest(range(1, len(vals) - {L} + 2)) AS t(off)
    ), st1 AS (
      SELECT user_id, "offset", w, list_sum(w) / {L} AS m FROM win
    ), st2 AS (
      SELECT user_id, "offset", w, m,
             list_sum(list_transform(w, x -> (x - m) * (x - m))) AS ss
      FROM st1
    )
    SELECT user_id, "offset",
           round(list_sum(list_transform(list_zip(w, {pat}),
                 z -> (z[1] - m) * z[2])) / sqrt(ss), 6)
             AS match_score
    FROM st2
    WHERE ss > 0
    ORDER BY match_score DESC, user_id, "offset"
    LIMIT {k}
    """


@register(
    "ts_pattern_search",
    # Pin: tests/test_rotation_pins.py
    oracle=_oracle(RAMP),
    doc="Time-series pattern similarity: top-20 per-user subsequences "
        "by z-normalized correlation with an upward-ramp query pattern "
        "(EDBT'19 family). Registered form is the (key, day)-BUCKETED "
        "Arrow/numpy kernel: per-group memory bounded by one key-day "
        "of data + L-1 overlap (no full-series collect_list), windows "
        "straddling bucket boundaries scored exactly once — bit-equal "
        "to both the full-series vectorized kernel and the declarative "
        "Column-fold reference form (test_timeseries.py)",
    tags=("timeseries", "events", "similarity", "pandas-udf"),
)
def q_ts_pattern_search(spark, sf_dir):
    return pattern_search_bucketed(
        load_table(prep(spark), sf_dir, "events")
    )
