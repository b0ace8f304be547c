"""Sequence packing for LLM training batches: the concat-and-chunk
layout (every production pre-training pipeline's final step — concatenate
the shuffled token stream, then cut fixed ``context_len`` windows) as a
deterministic, fully distributed DataFrame plan.

The op answers, per document: where does it land in the packed token
stream, which training chunks does it touch, and how many chunk
boundaries cut through it (boundary-crossing docs are the ones whose
attention span gets truncated — the quantity a packing strategy tries
to minimize).

Determinism: the "shuffle" is ``md5(doc_id)`` order — stable across
runs, engines, partition layouts, and corpus appends (same contract as
``pipeline.hash_split_expr``), unlike a randomized shuffle whose packing
depends on run seed and layout.

Scale (the reason this file exists rather than one window function): a
global running sum ``SUM(n_tok) OVER (ORDER BY h)`` plans as a single-
partition sort at 100 TB — one task owns the entire corpus. This
implementation is the classic two-pass distributed prefix sum:

  1. bucket every doc by its hash PREFIX (first 2 hex chars, 256
     ranges — prefix order, so (bucket, h) order == global h order);
  2. per-bucket token totals (tiny hash agg, 256 rows) -> running
     offsets via a window over those 256 rows on the driver-side-sized
     relation -> broadcast back;
  3. within-bucket running sum, window PARTITIONED BY bucket — 256-way
     parallel, each partition ~corpus/256.

The DuckDB oracle states the same result as the naive single window,
pinning that the two-pass decomposition is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_exercise_spark.operators.text import BPE_TOKEN_PATTERN
from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table

CONTEXT_LEN = 512


def pack_chunks(
    docs: DataFrame,
    context_len: int = CONTEXT_LEN,
    key: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Per-document placement in the concat-and-chunk token stream.

    Returns (doc_id, n_tok, start_tok, first_chunk, last_chunk,
    n_chunks_spanned) for every document with at least one BPE-ish
    token, in ``md5(doc_id)`` stream order. ``start_tok`` is the
    document's offset in the global concatenated token stream;
    chunk ids are ``offset // context_len``.
    """
    base = (
        docs.filter(F.col(text).isNotNull())
        .select(
            F.col(key).alias("doc_id"),
            F.md5(F.col(key).cast("string")).alias("_h"),
            F.size(
                F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0)
            ).cast("long").alias("n_tok"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn(
            # Hash-prefix range bucket: ordering by (bucket, _h) is
            # ordering by _h, which is what lets pass 3 window per
            # bucket instead of globally.
            "_bucket",
            F.conv(F.substring("_h", 1, 2), 16, 10).cast("int"),
        )
    )

    # Pass 1+2: per-bucket totals, then running offsets over the
    # 256-row bucket relation (the only unpartitioned window in the
    # plan — 256 rows regardless of corpus size).
    totals = base.groupBy("_bucket").agg(F.sum("n_tok").alias("_btot"))
    w_buckets = (
        Window.orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_bucket",
        F.coalesce(F.sum("_btot").over(w_buckets), F.lit(0)).alias("_boff"),
    )

    # Pass 3: within-bucket prefix sum, 256-way parallel.
    w_in = (
        Window.partitionBy("_bucket")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    placed = (
        base.join(F.broadcast(offsets), "_bucket")
        .withColumn(
            "start_tok",
            F.col("_boff") + F.sum("n_tok").over(w_in) - F.col("n_tok"),
        )
    )

    first = F.floor(F.col("start_tok") / context_len)
    last = F.floor((F.col("start_tok") + F.col("n_tok") - 1) / context_len)
    return placed.select(
        "doc_id",
        "n_tok",
        "start_tok",
        first.alias("first_chunk"),
        last.alias("last_chunk"),
        (last - first + 1).alias("n_chunks_spanned"),
    )


@register(
    "pipeline_pack_chunks",
    # Pin: tests/test_packing.py::test_matches_naive_python
    # The oracle is the NAIVE single-window statement of the same
    # math — one global running sum — pinning that the distributed
    # two-pass prefix-sum decomposition is exact.
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR)) AS h,
             CAST(len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}'))
                  AS BIGINT) AS n_tok
      FROM documents
      WHERE text IS NOT NULL
    ), placed AS (
      -- DuckDB windowed sum(BIGINT) widens to HUGEINT -> arrow
      -- decimal128 vs Spark's int64; the driver hashes TYPED values,
      -- so start_tok and every // derivative cast back to BIGINT
      -- (registry.py parity conventions — r6's one red row).
      SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY h, doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tok
                  AS BIGINT) AS start_tok
      FROM base WHERE n_tok > 0
    )
    SELECT doc_id, n_tok, start_tok,
           CAST(start_tok // {CONTEXT_LEN} AS BIGINT) AS first_chunk,
           CAST((start_tok + n_tok - 1) // {CONTEXT_LEN} AS BIGINT)
             AS last_chunk,
           CAST((start_tok + n_tok - 1) // {CONTEXT_LEN}
             - start_tok // {CONTEXT_LEN} + 1 AS BIGINT)
             AS n_chunks_spanned
    FROM placed
    """,
    doc="Concat-and-chunk sequence packing: per-document placement in "
        "the deterministic (hash-ordered) packed token stream — global "
        "offset, chunk span, boundary crossings — via a two-pass "
        "distributed prefix sum (no global sort)",
    tags=("pipeline", "documents", "packing"),
)
def q_pack_chunks(spark, sf_dir):
    return pack_chunks(load_table(prep(spark), sf_dir, "documents"))
