"""DSIR-style importance weighting for training-data selection.

Scores every raw-corpus document by the log-likelihood ratio of a
target-distribution hashed-n-gram model against the raw-corpus model
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling" — the published recipe: bag-of-hashed-ngrams features,
add-one-smoothed bucket unigram models, per-document sum of per-feature
log ratios; documents are then resampled proportionally to the weight).

Engine-portable determinism: the feature hash is the repo's standard
md5-mod-K idiom (pipeline.hash_split_expr, text.clf_bucket_expr), and
the per-bucket log ratio is FIXED to integer micro-nats — ``ln`` runs
once per bucket (K evaluations total) and is rounded to 6 decimals on
both engines, after which every corpus-sized sum is exact 64-bit
integer arithmetic. No libm call and no float-summation order anywhere
in the per-document path, the same discipline as
tokenizer.token_rarity: summing doubles in partition order vs array
order can flip a ``round(x, 4)`` at a boundary under an exact
value-hash gate, while summed longs cannot.

Scale shape (100 TB):
- The two distribution estimates aggregate hashed-bucket counts with
  map-side combine — each scan's shuffle carries at most K rows per
  task, independent of corpus size.
- The weight model is K rows by construction (K = DSIR_BUCKETS, a
  constant) and broadcasts; the corpus side never shuffles on the
  n-gram or the bucket — the same fixed-size-side contract as
  pipeline.decontaminate_against.
- Scoring aggregates by document; a document's grams are co-located in
  its scan partition, so the partial sum reduces to one row per doc
  before the shuffle (the classifier_scores_joined shape).
- The raw corpus is scanned twice (once to estimate q, once to score).
  In production the q estimate runs on a deterministic hash-sample of
  the corpus (mix_keep_expr's stability contract) — the paper itself
  fits both models on samples; fitting on the full corpus here keeps
  the driver oracle on the pre-registered views.

Reference operator class: corpus-level statistical filtering, the same
family as the reference job's per-key aggregation (StreamingJob.scala:
149-155) generalized to model-based scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_exercise_spark.operators.pipeline import SPLIT_PCT, hash_split_expr
from flink_exercise_spark.operators.text import (
    shingles_from_tokens,
    tokens_expr,
)
from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table, spread

DSIR_BUCKETS = 1024  # hashed-feature model size (constant, broadcastable)
DSIR_N = 2  # word n-gram order: hashed bigrams, the paper's default


def dsir_bucket_expr(gram: F.Column, k: int = DSIR_BUCKETS) -> F.Column:
    """Feature-hash bucket of an n-gram: md5-mod-K, the engine-portable
    hash shared with the split/mix/classifier hashes."""
    return F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long") % k


def gram_instances(
    docs: DataFrame, n: int = DSIR_N, key: str = "doc_id",
    k: int = DSIR_BUCKETS,
) -> DataFrame:
    """``(key, bucket)`` with ONE ROW PER N-GRAM INSTANCE — frequencies,
    not distinct sets: DSIR models feature counts, unlike the
    decontamination join (pipeline._doc_grams) which deliberately
    dedups. explode_outer + post-explode filter for the same reason
    documented there: a non-outer explode's inferred predicate drags
    the whole shingle expression into the scan filter."""
    from flink_exercise_spark.functions.exprmemo import expr_memo

    tok_col, gram_arr, gram_col, not_null, bucket_col = expr_memo(
        ("dsir_gram_instances", n, key, k),
        lambda: (
            tokens_expr().alias("_t"),
            shingles_from_tokens(F.col("_t"), n).alias("_g"),
            F.explode_outer("_g").alias("gram"),
            F.col("gram").isNotNull(),
            dsir_bucket_expr(F.col("gram"), k).alias("bucket"),
        ),
    )
    toked = spread(docs, key).select(F.col(key), tok_col)
    return (
        toked.select(key, gram_arr)
        .select(key, gram_col)
        .filter(not_null)
        .select(key, bucket_col)
    )


def bucket_counts(grams: DataFrame) -> DataFrame:
    """Per-bucket instance counts: two-phase hash agg, shuffle carries
    <= K rows per task."""
    return grams.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))


def dsir_weight_model(
    spark: SparkSession,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    k: int = DSIR_BUCKETS,
) -> DataFrame:
    """The fitted importance model: ``(bucket, r_micronats)`` over all K
    buckets, where ``r = round(1e6 * ln(p_hat / q_hat))`` with add-one
    smoothing — p_hat = (cnt_p+1)/(total_p+K), q_hat likewise. The ONLY
    ``ln`` in the operator runs here, K times, rounded to micro-nats so
    every downstream aggregate is exact integer math. Products are
    computed in doubles (counts can reach 1e13 at 100 TB; a long*long
    cross-product would overflow)."""
    base = spark.range(k).select(F.col("id").alias("bucket"))
    totals = target_counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("p_total")
    ).crossJoin(
        raw_counts.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("q_total"))
    )
    joined = (
        base.join(
            target_counts.withColumnRenamed("cnt", "p_cnt"), "bucket", "left"
        )
        .join(raw_counts.withColumnRenamed("cnt", "q_cnt"), "bucket", "left")
        .crossJoin(F.broadcast(totals))
    )
    from flink_exercise_spark.functions.exprmemo import expr_memo

    r_col = expr_memo(("dsir_r_micronats", k), lambda: _dsir_r_col(k))
    return joined.select("bucket", r_col)


def _dsir_r_col(k: int) -> F.Column:
    ratio = (
        (F.coalesce("p_cnt", F.lit(0)) + 1).cast("double")
        * (F.col("q_total") + k).cast("double")
    ) / (
        (F.coalesce("q_cnt", F.lit(0)) + 1).cast("double")
        * (F.col("p_total") + k).cast("double")
    )
    return (
        F.round(F.log(ratio) * 1_000_000, 0).cast("long")
        .alias("r_micronats")
    )


def dsir_scores_against(
    raw: DataFrame,
    target: DataFrame,
    n: int = DSIR_N,
    k: int = DSIR_BUCKETS,
    key: str = "doc_id",
) -> DataFrame:
    """DSIR against an EXPLICIT target corpus — the production shape
    (target = a curated corpus such as Wikipedia; ``raw`` = the web
    crawl being selected from). Fits both hashed-n-gram models, scores
    every raw document.

    Returns one row per raw document: ``(key, n_grams,
    dsir_micronats)`` — the total importance log-ratio in exact integer
    micro-nats (positive = more target-like than the raw average).
    Documents with fewer than ``n`` tokens have no features and score 0
    (kept via left join, the classifier_scores_joined contract: one
    output row per input document, always).
    """
    spark = raw.sparkSession
    weights = dsir_weight_model(
        spark,
        bucket_counts(gram_instances(target, n, key, k)),
        bucket_counts(gram_instances(raw, n, key, k)),
        k,
    )
    return dsir_score_with_model(raw, weights, n, k, key)


def dsir_score_with_model(
    docs: DataFrame,
    weights: DataFrame,
    n: int = DSIR_N,
    k: int = DSIR_BUCKETS,
    key: str = "doc_id",
) -> DataFrame:
    """Score documents against an already-FITTED ``(bucket,
    r_micronats)`` model — the inference half, shared by the batch
    pipeline and the streaming placement (ingest.stream_score_dsir):
    fit offline on the full corpus, score each arriving micro-batch
    against the static broadcast model. Per-document and exact-integer
    by construction, so any micro-batch partitioning of the input
    unions to the batch answer."""
    from flink_exercise_spark.functions.exprmemo import expr_memo

    aggs, out_cols = expr_memo(
        "dsir_score_exprs",
        lambda: (
            (
                F.count(F.lit(1)).alias("n_grams"),
                F.sum("r_micronats").alias("dsir_micronats"),
            ),
            (
                F.coalesce("n_grams", F.lit(0)).cast("long")
                .alias("n_grams"),
                F.coalesce("dsir_micronats", F.lit(0)).cast("long")
                .alias("dsir_micronats"),
            ),
        ),
    )
    scored = (
        gram_instances(docs, n, key, k)
        .join(F.broadcast(weights), "bucket")
        .groupBy(key)
        .agg(*aggs)
    )
    return docs.select(key).join(scored, key, "left").select(key, *out_cols)


def dsir_scores(
    docs: DataFrame,
    n: int = DSIR_N,
    k: int = DSIR_BUCKETS,
    key: str = "doc_id",
) -> DataFrame:
    """DSIR over the deterministic hash split of ONE corpus: target
    distribution = the ``val`` split, raw distribution = the ``train``
    split, every train document scored. The self-contained form the
    driver oracle checks; ``dsir_scores_against`` is the same pipeline
    with an external target corpus."""
    with_split = docs.withColumn("_split", hash_split_expr(key))
    return dsir_scores_against(
        with_split.filter(F.col("_split") == "train").drop("_split"),
        with_split.filter(F.col("_split") == "val").drop("_split"),
        n,
        k,
        key,
    )


def _dsir_oracle(n: int = DSIR_N, k: int = DSIR_BUCKETS) -> str:
    gram = " || ' ' || ".join(
        f"t[i+{j}]" if j else "t[i]" for j in range(n)
    )
    return f"""
    WITH b AS (
      SELECT doc_id, text,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS b100
      FROM documents
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 100 < {SPLIT_PCT["val"]}
    ), grams AS (
      SELECT doc_id, b100,
             CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % {k} AS bucket
      FROM (SELECT doc_id, b100,
                   unnest(list_transform(range(1, len(t) - {n - 2}),
                                         i -> {gram})) AS g
            FROM (SELECT doc_id, b100,
                         regexp_split_to_array(trim(text), '\\s+') AS t
                  FROM b))
    ), tc AS (
      SELECT bucket, count(*) AS cnt FROM grams
      WHERE b100 >= {SPLIT_PCT["train"]} GROUP BY 1
    ), rc AS (
      SELECT bucket, count(*) AS cnt FROM grams
      WHERE b100 < {SPLIT_PCT["train"]} GROUP BY 1
    ), tot AS (
      SELECT (SELECT CAST(COALESCE(sum(cnt), 0) AS BIGINT) FROM tc)
               AS p_total,
             (SELECT CAST(COALESCE(sum(cnt), 0) AS BIGINT) FROM rc)
               AS q_total
    ), w AS (
      SELECT kk.bucket,
             CAST(round(1000000 * ln(
               (CAST(COALESCE(tc.cnt, 0) + 1 AS DOUBLE) * (q_total + {k}))
               / (CAST(COALESCE(rc.cnt, 0) + 1 AS DOUBLE)
                  * (p_total + {k}))), 0) AS BIGINT) AS r
      FROM (SELECT unnest(range(0, {k})) AS bucket) kk
      LEFT JOIN tc USING (bucket)
      LEFT JOIN rc USING (bucket)
      CROSS JOIN tot
    ), scored AS (
      SELECT g.doc_id, count(*) AS n_grams,
             CAST(sum(w.r) AS BIGINT) AS dsir
      FROM grams g JOIN w USING (bucket)
      WHERE g.b100 < {SPLIT_PCT["train"]}
      GROUP BY 1
    )
    SELECT b.doc_id,
           CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(s.dsir, 0) AS BIGINT) AS dsir_micronats
    FROM b LEFT JOIN scored s USING (doc_id)
    WHERE b.b100 < {SPLIT_PCT["train"]}
    """


@register(
    "text_dsir_weights",
    # Pin: tests/test_importance.py DSIR python reference
    oracle=_dsir_oracle(),
    doc="DSIR importance weights (Xie et al. 2023): hashed-bigram "
        "log-likelihood ratio of the val-split target model vs the "
        "train-split raw model, per train document, in exact integer "
        "micro-nats (ln runs once per bucket; corpus sums are longs)",
    tags=("text", "documents", "pipeline", "sampling"),
)
def q_dsir_weights(spark, sf_dir):
    return dsir_scores(load_table(prep(spark), sf_dir, "documents"))
