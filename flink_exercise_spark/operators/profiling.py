"""Dataset profiling: EXACT distributed quantiles via value-histogram
compression — the threshold-calibration front end of every quality
gate (pipeline.quality_gate_expr's length/score cutoffs are exactly
the numbers this operator produces from data instead of folklore).

The 100 TB problem: the two built-in exact routes both break at scale.
``percentile``/``median`` aggregate buffers hold every value of a
group in executor memory (OOM on a billion-row group), and the
window-rank route (``row_number() OVER (PARTITION BY g ORDER BY v)``)
sorts one partition per group — a single task owns a whole group.
``approx_percentile`` is the built-in answer but is approximate and
engine-specific (its GK sketch does not match any oracle bit-for-bit).

This operator computes EXACT rank-based quantiles with bounded memory
by aggregating the value HISTOGRAM first:

  1. ``groupBy(group, v).count()`` — a two-phase hash aggregate; the
     shuffle carries one row per DISTINCT (group, value), not per row.
     For the integer metrics profiled here (lengths, token counts,
     sizes) the distinct-value domain is bounded (~10^4-10^6) no
     matter how many rows the corpus has — that is the compression.
  2. One window over the histogram, PARTITION BY group ORDER BY v:
     running count + group total. Each partition is
     distinct-values-per-group sized, never corpus sized.
  3. The quantile with rank semantics ``ceil(q * n)`` (DuckDB
     ``quantile_disc``, probed empirically: q=0 -> first value,
     exact-integer q*n -> that rank, duplicates counted by
     multiplicity) is then ``min(v WHERE cum >= ceil(q * n))`` — one
     conditional-min hash aggregate per requested q.

Total: one histogram shuffle + one histogram-sized window + one hash
aggregate. No per-group memory proportional to group size anywhere.

When the value domain is NOT bounded (continuous doubles), the same
plan still holds by pre-bucketing v (e.g. ``round(v, 3)``) at a
documented precision — exactness then degrades to the bucket width,
which is still a harder guarantee than a GK/t-digest sketch error.

Reference scope: the reference job's aggregate family (StreamingJob.
scala:149-155) is count-shaped; quantiles are the north-star
extension of that family to distribution-shaped questions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_exercise_spark.operators.text import tokens_expr
from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table

PROFILE_QS = (0.25, 0.5, 0.75, 0.9)


def _qcol(q: float) -> str:
    return f"p{int(round(q * 100))}"


def exact_quantiles(
    df: DataFrame,
    group: Sequence[str],
    value: str = "v",
    qs: Sequence[float] = PROFILE_QS,
) -> DataFrame:
    """Exact per-group quantiles of ``df[value]`` (NULLs excluded),
    rank semantics ``ceil(q * n)`` == DuckDB ``quantile_disc``.

    Returns one row per group: ``(*group, n, p25, p50, ...)`` with
    ``n`` the non-NULL count and each quantile column named by
    ``_qcol`` (p25 for q=0.25). All quantile columns carry the value
    column's type (they ARE data values, never interpolated).
    """
    group = list(group)
    hist = (
        df.filter(F.col(value).isNotNull())
        .groupBy(*group, value)
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    w_cum = (
        Window.partitionBy(*group)
        .orderBy(value)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Group total via an unbounded window over the SAME partitioning —
    # Catalyst evaluates both frames in one Window exec over one sort,
    # so the total does not cost a second shuffle or a self-join.
    w_all = (
        Window.partitionBy(*group)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ranked = hist.select(
        *group,
        value,
        F.sum("_cnt").over(w_cum).alias("_cum"),
        F.sum("_cnt").over(w_all).alias("_n"),
    )
    aggs = [F.max("_n").cast("long").alias("n")]
    for q in qs:
        # Rank ceil(q*n), floored at 1 so q=0.0 means "first value".
        rank = F.greatest(F.ceil(F.lit(float(q)) * F.col("_n")), F.lit(1))
        aggs.append(
            F.min(F.when(F.col("_cum") >= rank, F.col(value))).alias(
                _qcol(q)
            )
        )
    return ranked.groupBy(*group).agg(*aggs)


def document_metric_values(docs: DataFrame) -> DataFrame:
    """Long-format per-document metric relation ``(source, metric, v)``
    for the profiled integer metrics: raw char count (the table's
    ``n_chars``) and whitespace token count. Long format so ONE
    quantile plan profiles every metric — adding a metric is a UNION
    leg, not a new shuffle topology."""
    n_chars = docs.filter(F.col("n_chars").isNotNull()).select(
        "source",
        F.lit("n_chars").alias("metric"),
        F.col("n_chars").cast("long").alias("v"),
    )
    n_tok = docs.filter(F.col("text").isNotNull()).select(
        "source",
        F.lit("n_tok").alias("metric"),
        F.size(tokens_expr()).cast("long").alias("v"),
    )
    return n_chars.unionByName(n_tok)


def source_quantile_profile(docs: DataFrame) -> DataFrame:
    """Per-(source, metric) exact quantile profile of the corpus —
    the table a pipeline author reads to SET the quality-gate
    thresholds the rest of the pipeline applies."""
    return exact_quantiles(
        document_metric_values(docs), ["source", "metric"], "v", PROFILE_QS
    )


@register(
    "doc_quantiles_by_source",
    # Pin: tests/test_profiling.py fixture-vs-reference
    oracle=f"""
    WITH vals AS (
      SELECT source, 'n_chars' AS metric, CAST(n_chars AS BIGINT) AS v
      FROM documents WHERE n_chars IS NOT NULL
      UNION ALL
      SELECT source, 'n_tok',
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
      FROM documents WHERE text IS NOT NULL
    )
    SELECT source, metric, CAST(count(*) AS BIGINT) AS n,
           CAST(quantile_disc(v, 0.25) AS BIGINT) AS {_qcol(0.25)},
           CAST(quantile_disc(v, 0.5)  AS BIGINT) AS {_qcol(0.5)},
           CAST(quantile_disc(v, 0.75) AS BIGINT) AS {_qcol(0.75)},
           CAST(quantile_disc(v, 0.9)  AS BIGINT) AS {_qcol(0.9)}
    FROM vals GROUP BY source, metric
    """,
    doc="Exact per-source document-length and token-count quantiles "
        "(p25/p50/p75/p90) via value-histogram compression: the "
        "distribution profile that calibrates quality-gate thresholds, "
        "computed with bounded memory (histogram shuffle, "
        "histogram-sized window) instead of percentile()'s "
        "hold-the-group-in-RAM buffer",
    tags=("documents", "profiling", "quantiles"),
)
def q_doc_quantiles(spark, sf_dir):
    return source_quantile_profile(load_table(prep(spark), sf_dir, "documents"))
