"""Frequency sketches: exact distributed heavy hitters via a
Misra-Gries candidate pass + exact recount.

The 100 TB problem this solves: "which keys dominate this column?" is
the question you ask BEFORE every big join or aggregation (skew
detection — the keys `skew.py` salts are exactly the heavy hitters
here), and answering it with a full `GROUP BY key` shuffles one row
per DISTINCT key. On a web-scale column (user ids, URLs, tokens) that
distinct set is 10^8–10^9 rows of shuffle for an answer whose useful
part is 20 rows.

The sketch shape (Misra-Gries / space-saving; mergeability per
Agarwal et al., "Mergeable Summaries", PODS'12):

- **Pass 1 (narrow):** each input partition builds a CAPPED frequency
  summary — at most ``capacity`` (key, lower-bound-count) rows plus
  one accounting row — inside an Arrow kernel. pandas ``value_counts``
  does the per-batch counting at C speed; when the running dict
  exceeds capacity it is decremented MG-style (subtract the
  (capacity+1)-th count, drop non-positive), which preserves the
  classic guarantee: any key whose true partition count exceeds the
  total decrement survives, and every kept count is a lower bound
  undercounting by at most the partition's total decrement.
  Only summary rows shuffle: ``capacity * n_partitions``, independent
  of the corpus's distinct-key count.
- **Merge:** summaries merge by plain ``groupBy(key).sum()`` — lower
  bounds add, per-partition decrements add into a global error budget
  ``E``. By the pigeonhole bound, every key with true global count
  > E is present among the candidates.
- **Pass 2 (exact):** keys whose upper bound (L + E) reaches the k-th
  largest lower bound are recounted EXACTLY with a broadcast semi-join
  + groupBy over the original column — a recount of a handful of keys,
  not a full-vocabulary shuffle. The result is therefore the exact
  top-k whenever the soundness guard ``E < Lk`` holds (every key the
  sketch could have missed entirely has true count <= E < Lk <= the
  true k-th count, so it cannot belong to the top-k; every key that
  can reach the boundary is in the recount set because upper bounds
  dominate true counts).
- **Guard / fallback:** when ``E >= Lk`` (adversarially flat data or
  an undersized capacity) the guarantee does not hold, and the
  operator falls back to the full exact ``GROUP BY`` rather than
  returning silently-approximate output. The gate is a 1-row action
  on summary-sized relations — the count-gated-broadcast precedent
  (dedup.lsh_verified_pairs): observed data beats a blind choice in
  both directions.

Reference scope note: the reference job (StreamingJob.scala:91,
SJ:149-155) computes exact per-key counts and arg-max on a small key
domain; this module is the north-star extension of that aggregate
family to columns whose distinct count makes the exact shuffle the
bottleneck.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.caching import persist_tracked
from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table, spread

HH_CAPACITY = 4096
HH_TOPK = 20


def mg_partition_summaries(
    df: DataFrame, key: str, capacity: int = HH_CAPACITY
) -> DataFrame:
    """Per-partition Misra-Gries summaries of ``key``: at most
    ``capacity`` rows ``(key, cnt)`` (cnt = lower bound on the
    partition count) plus ONE accounting row ``(NULL, n_rows, err)``
    per non-empty partition carrying the partition's row total and its
    cumulative MG decrement. The kernel never holds more than
    ``2 * capacity`` dict entries: per-batch exact counting is pandas
    C code, the python-level merge touches only batch-DISTINCT keys.
    """
    import pandas as pd

    out_schema = f"{key} long, cnt long, err long"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        decrement = 0
        n_rows = 0
        for pdf in batches:
            col = pdf[key].dropna()
            n_rows += len(col)
            for val, c in col.value_counts().items():
                counts[val] = counts.get(val, 0) + int(c)
            if len(counts) > capacity:
                # MG batch decrement: subtract the (capacity+1)-th
                # largest count from everything, drop non-positive.
                t = sorted(counts.values(), reverse=True)[capacity]
                counts = {k: v - t for k, v in counts.items() if v > t}
                decrement += t
        if n_rows == 0:
            return
        yield pd.DataFrame(
            {
                key: list(counts.keys()) + [None],
                "cnt": list(counts.values()) + [n_rows],
                "err": [0] * len(counts) + [decrement],
            }
        )

    return df.select(key).mapInPandas(kernel, schema=out_schema)


def heavy_hitters(
    df: DataFrame,
    key: str,
    k: int = HH_TOPK,
    capacity: int = HH_CAPACITY,
) -> DataFrame:
    """Exact top-``k`` heavy hitters of ``df[key]`` — ``(key, n,
    share)``, ordered (n DESC, key ASC), share = round(n / total, 6).

    Exact by construction (see module docstring); NULL keys are
    excluded (they are a missing-data signal, not a join key). Falls
    back to the full exact aggregate when the soundness guard fails,
    so the output contract is unconditional.
    """
    src = spread(df.select(key).filter(F.col(key).isNotNull()), key)
    summaries = persist_tracked(mg_partition_summaries(src, key, capacity))

    acct = summaries.filter(F.col(key).isNull()).agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("total"),
        F.coalesce(F.sum("err"), F.lit(0)).alias("e"),
    )
    cands = (
        summaries.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.sum("cnt").alias("lower"))
    )
    # k-th largest lower bound: TakeOrdered over the summary-sized
    # candidate relation, then a 1-row reduce.
    lk = (
        cands.orderBy(F.col("lower").desc(), F.col(key))
        .limit(k)
        .agg(F.coalesce(F.min("lower"), F.lit(0)).alias("lk"))
    )
    gate = acct.crossJoin(lk).first()
    total, err_budget, lk_val = gate["total"], gate["e"], gate["lk"]

    if err_budget >= lk_val:
        # Guarantee void (flat distribution / undersized capacity):
        # the honest exact fallback, loud in the plan, silent in the
        # contract.
        exact = src.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    else:
        recount_keys = cands.filter(
            F.col("lower") + F.lit(err_budget) >= F.lit(lk_val)
        ).select(key)
        exact = (
            src.join(F.broadcast(recount_keys), key, "semi")
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("n"))
        )
    return (
        exact.orderBy(F.col("n").desc(), F.col(key))
        .limit(k)
        .select(
            key,
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.lit(float(total)), 6).alias("share"),
        )
    )


@register(
    "events_heavy_hitters",
    # Pin: tests/test_sketches.py pandas fixture reference.
    oracle=f"""
    WITH tot AS (SELECT count(*) AS total FROM events
                 WHERE user_id IS NOT NULL)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           round(count(*) / (SELECT total FROM tot), 6) AS share
    FROM events WHERE user_id IS NOT NULL
    GROUP BY user_id
    ORDER BY n DESC, user_id
    LIMIT {HH_TOPK}
    """,
    doc="Exact heavy hitters over events.user_id via a Misra-Gries "
        "candidate pass + exact recount: top-k without shuffling one "
        "row per distinct key — the skew-detection front end to every "
        "salted join",
    tags=("events", "sketch", "heavy-hitters", "skew"),
)
def q_events_heavy_hitters(spark, sf_dir):
    return heavy_hitters(
        load_table(prep(spark), sf_dir, "events"), "user_id", HH_TOPK
    )
