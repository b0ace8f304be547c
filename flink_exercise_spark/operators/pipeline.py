"""End-to-end LLM training-data preparation pipeline — the flagship
composition of the north-star operator families:

    documents
      -> quality features (token count, lexical diversity, stopword
         ratio — C4/Gopher-style filters, operators/text.py semantics)
      -> quality + language gate (marker-based language ID, drop
         'unknown')
      -> exact dedup (canonical copy = min doc_id per md5(text),
         operators/dedup.py semantics)
      -> per-language corpus budget (docs kept, total tokens, mean
         quality)

Everything is a single declarative plan: one bound-token-array
projection (see text.shingles_from_tokens for the CSE rationale), one
filter, one hash-agg + equi-join for the canonical-copy gate, one final
hash-agg. No Python in the pipeline at all — at 100 TB this runs as
three shuffles (canonical groupBy, canonical join, final agg) over
narrow rows; the text payload never crosses the wire.

All comparisons happen on values rounded exactly as the DuckDB oracle
rounds them, so the whole pipeline is value-hash-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.caching import persist_tracked
from flink_exercise_spark.operators.text import (
    LANG_MARKERS,
    STOPWORDS,
    _marker_score,
    tokens_expr,
)
from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table

MIN_TOKENS = 20
MIN_LEXICAL_DIVERSITY = 0.35
MIN_STOPWORD_RATIO = 0.02


def quality_language_features(
    toked: DataFrame, hash_col: str = "_h"
) -> DataFrame:
    """The quality-gate + language-gate feature projection shared by
    the batch pipeline (``llm_data_prep``) and the streaming front
    door (``ingest.ingest_data_prep``): one per-document row of
    (doc_id, md5-of-text as ``hash_col``, n_tokens, lexical_diversity,
    stopword_ratio, predicted_lang) over a ``toked`` relation carrying
    a BOUND ``_toks`` token array plus ``text``. Single projection, no
    shuffle — any gate change lands in both deployments at once."""
    t = F.col("_toks")
    n_tokens = F.size(t)
    scores = {
        lang: _marker_score(t, markers)
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.when(best == 0, F.lit("unknown"))
    for lang in langs:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return toked.select(
        "doc_id",
        F.md5("text").alias(hash_col),
        n_tokens.alias("n_tokens"),
        F.round(F.size(F.array_distinct(t)) / n_tokens, 4).alias(
            "lexical_diversity"
        ),
        F.round(_marker_score(t, STOPWORDS) / n_tokens, 4).alias(
            "stopword_ratio"
        ),
        pred.alias("predicted_lang"),
    )


def quality_gate_expr(
    min_tokens: int = MIN_TOKENS,
    min_ld: float = MIN_LEXICAL_DIVERSITY,
    min_sr: float = MIN_STOPWORD_RATIO,
) -> F.Column:
    """The keep predicate over ``quality_language_features`` columns —
    NULL-safe: a NULL-text document (all-NULL features) gates to
    False, not NULL."""
    return F.coalesce(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("lexical_diversity") >= min_ld)
        & (F.col("stopword_ratio") >= min_sr)
        & (F.col("predicted_lang") != "unknown"),
        F.lit(False),
    )


def llm_data_prep(
    docs: DataFrame,
    min_tokens: int = MIN_TOKENS,
    min_ld: float = MIN_LEXICAL_DIVERSITY,
    min_sr: float = MIN_STOPWORD_RATIO,
) -> DataFrame:
    """Per-language corpus summary after quality gate + language gate +
    exact dedup."""
    toked = docs.select("doc_id", "text", tokens_expr().alias("_toks"))
    feat = quality_language_features(toked)
    kept = feat.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("lexical_diversity") >= min_ld)
        & (F.col("stopword_ratio") >= min_sr)
        & (F.col("predicted_lang") != "unknown")
    )
    # kept feeds BOTH the canonical-copy aggregate and the join probe;
    # without materialization each reference re-runs the tokenize +
    # score pipeline over the full text corpus (measured 2x the
    # pipeline's CPU at fixture scale). The persisted relation is the
    # narrow post-gate features — no text column — which is exactly
    # what you'd materialize at 100 TB before a dedup join.
    kept = persist_tracked(kept)
    canon = kept.groupBy("_h").agg(F.min("doc_id").alias("doc_id"))
    deduped = kept.join(canon, ["_h", "doc_id"])
    return deduped.groupBy("predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("lexical_diversity"), 4).alias("avg_lexical_diversity"),
        F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
    )


def _oracle() -> str:
    toks = "regexp_split_to_array(trim(text), '\\s+')"
    score = {
        lang: f"len(list_filter(T, t -> t IN {markers!r}))"
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(score[lang] for lang in langs) + ")"
    whens = "\n             ".join(
        f"WHEN {score[lang]} = {best} THEN '{lang}'" for lang in langs
    )
    return f"""
    WITH toked AS (
      SELECT doc_id, text, {toks} AS T FROM documents
    ), feat AS (
      SELECT doc_id, md5(text) AS h,
             len(T) AS n_tokens,
             round(len(list_distinct(T)) / len(T), 4) AS lexical_diversity,
             round(len(list_filter(T, t -> t IN {STOPWORDS!r}))
                   / len(T), 4) AS stopword_ratio,
             CASE WHEN {best} = 0 THEN 'unknown'
             {whens}
             END AS predicted_lang
      FROM toked
    ), kept AS (
      SELECT * FROM feat
      WHERE n_tokens >= {MIN_TOKENS}
        AND lexical_diversity >= {MIN_LEXICAL_DIVERSITY}
        AND stopword_ratio >= {MIN_STOPWORD_RATIO}
        AND predicted_lang != 'unknown'
    ), canon AS (
      SELECT h, min(doc_id) AS doc_id FROM kept GROUP BY h
    ), deduped AS (
      SELECT k.* FROM kept k
      JOIN canon c ON k.h = c.h AND k.doc_id = c.doc_id
    )
    SELECT predicted_lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(lexical_diversity), 4) AS avg_lexical_diversity,
           round(avg(stopword_ratio), 4) AS avg_stopword_ratio
    FROM deduped GROUP BY predicted_lang
    """


SPLIT_PCT = {"train": 80, "val": 90}  # hash < 80 -> train, < 90 -> val


def hash_split_expr(key: str = "doc_id") -> F.Column:
    """Deterministic train/val/test assignment by content hash of the
    key: ``md5(key) mod 100`` buckets — stable across runs, engines,
    partitionings, and data order (unlike ``df.sample``/``randomSplit``,
    whose assignment depends on partition layout). The standard way a
    100 TB pipeline makes splits reproducible and leak-free: a document
    keeps its split forever, even across corpus versions."""
    bucket = F.conv(
        F.substring(F.md5(F.col(key).cast("string")), 1, 8), 16, 10
    ).cast("long") % 100
    return (
        F.when(bucket < SPLIT_PCT["train"], F.lit("train"))
        .when(bucket < SPLIT_PCT["val"], F.lit("val"))
        .otherwise(F.lit("test"))
    )


# Data-mixing rates per language stratum (upsample-by-keeping-all vs
# downsample), in 1/MIX_RESOLUTION units so the keep test is an exact
# integer compare on both engines. The salt decorrelates the sampling
# hash from the split hash: a document's split and its mixing fate
# must be independent coin flips or the sampled corpus skews.
MIX_RESOLUTION = 10_000
MIX_RATES = {"en": 10_000, "zh": 5_000, "de": 5_000, "es": 2_500, "fr": 2_500}
MIX_DEFAULT = 1_000
MIX_SALT = "mix-v1"


def mix_keep_expr(
    rates: dict[str, int] | None = None,
    default: int = MIX_DEFAULT,
    stratum: str = "lang",
    key: str = "doc_id",
    salt: str = MIX_SALT,
) -> F.Column:
    """Deterministic stratified sampling: keep a row iff
    ``md5(salt || key) mod MIX_RESOLUTION < rates[stratum]``. Same
    stability contract as ``hash_split_expr`` (partition-layout- and
    engine-independent, unlike ``df.sample``), which is what makes
    per-language data-mixing weights reproducible across corpus
    versions at 100 TB: a document's fate depends only on its key and
    the salt, so re-running after appending new data never resamples
    old data."""
    rates = MIX_RATES if rates is None else rates
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(key).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long") % MIX_RESOLUTION
    threshold = F.lit(default)
    for s, r in sorted(rates.items()):
        threshold = F.when(F.col(stratum) == s, F.lit(r)).otherwise(threshold)
    return bucket < threshold


def stratified_sample(docs: DataFrame, **kwargs) -> DataFrame:
    """The sampled corpus itself (filter form of ``mix_keep_expr``)."""
    return docs.filter(mix_keep_expr(**kwargs))


TEMP_SALT = "temp-mix-v1"
_TEMP_D38 = "decimal(38,0)"


def _temp_bucket() -> F.Column:
    """The temperature-mix keep bucket: salted md5 of the doc key in
    1/MIX_RESOLUTION units — ONE definition shared by profile and
    sample (their agreement is test-pinned and the oracle restates
    exactly this expression)."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(TEMP_SALT), F.col("doc_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % MIX_RESOLUTION
    )


def temperature_mix_thresholds(
    docs: DataFrame, stratum: str = "source"
) -> DataFrame:
    """Per-stratum keep thresholds for square-root temperature
    sampling (the multilingual-training mix, α = 1/2): target share
    w_s / W with w_s = isqrt(n_s), sampled down to a total budget of
    half the corpus — upweights rare strata relative to the natural
    distribution, exactly the rebalancing a multi-source 100 TB corpus
    needs before training.

    Unlike MIX_RATES (operator inputs), these rates are COMPUTED from
    the corpus, so the arithmetic must be cross-engine exact:
    α = 1/2 because floor(sqrt(n)) over BIGINT counts is exact on both
    engines (IEEE sqrt is correctly rounded and no non-square n lands
    within an ulp of an integer below ~2^50 — no libm table involved,
    unlike pow(n, α) for general α), and the threshold
    min(RES, (RES · (N div 2) · w_s) div (W · n_s)) is one floored
    128-bit integer division (decimal(38,0) / HUGEINT; int64 would
    overflow at 10^11 docs: RES·N/2·w ≈ 10^20).

    Scale shape: counts are one corpus hash-agg; everything after is
    stratum-cardinality-sized (weights, the 1-row (W, N) broadcast
    cross join, thresholds)."""
    counts = docs.groupBy(stratum).agg(F.count(F.lit(1)).alias("n_docs"))
    w = counts.withColumn(
        "weight", F.floor(F.sqrt(F.col("n_docs"))).cast("long")
    )
    tot = w.agg(
        F.sum("weight").cast("long").alias("w_total"),
        F.sum("n_docs").cast("long").alias("n_total"),
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .withColumn(
            "_tnum",
            F.lit(MIX_RESOLUTION).cast(_TEMP_D38)
            * F.expr("n_total div 2").cast(_TEMP_D38)
            * F.col("weight").cast(_TEMP_D38),
        )
        .withColumn(
            "_tden",
            F.col("w_total").cast(_TEMP_D38) * F.col("n_docs").cast(_TEMP_D38),
        )
        .select(
            stratum,
            "n_docs",
            "weight",
            F.least(
                F.lit(MIX_RESOLUTION).cast("long"),
                F.expr("_tnum div _tden"),
            ).alias("threshold"),
        )
    )


def temperature_mix_profile(
    docs: DataFrame, stratum: str = "source"
) -> DataFrame:
    """Accounting for the temperature mix: per stratum, the corpus
    count, isqrt weight, computed keep threshold, and what the
    salted-hash keep test retains (docs and chars). Two corpus passes
    by necessity — the rates depend on global stats — with the
    threshold relation broadcast back onto the second pass; the final
    join is stratum-sized ⋈ stratum-sized."""
    thr = temperature_mix_thresholds(docs, stratum)
    keyed = docs.select(stratum, "n_chars", _temp_bucket().alias("_bucket"))
    kept = (
        keyed.join(F.broadcast(thr.select(stratum, "threshold")), stratum)
        .groupBy(stratum)
        .agg(
            F.sum((F.col("_bucket") < F.col("threshold")).cast("long")).alias(
                "n_kept"
            ),
            F.sum(
                F.when(
                    F.col("_bucket") < F.col("threshold"), F.col("n_chars")
                ).otherwise(F.lit(0))
            ).alias("kept_chars"),
        )
    )
    return thr.join(kept, stratum)


def temperature_mix_sample(
    docs: DataFrame, stratum: str = "source"
) -> DataFrame:
    """The temperature-sampled corpus itself (filter form): join the
    broadcast thresholds, keep rows whose salted hash clears the
    stratum's computed rate."""
    thr = temperature_mix_thresholds(docs, stratum)
    return (
        docs.join(F.broadcast(thr.select(stratum, "threshold")), stratum)
        .filter(_temp_bucket() < F.col("threshold"))
        .drop("threshold")
    )


def split_profile(docs: DataFrame) -> DataFrame:
    """Corpus accounting per (split, lang): doc and char budgets, plus
    what the stratified data-mixing pass would keep — split assignment
    and mixing selection computed in the same single hash-agg plan."""
    keep = mix_keep_expr()
    return (
        docs.withColumn("split", hash_split_expr())
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(keep.cast("long")).alias("n_sampled"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(F.lit(0))).alias(
                "sampled_chars"
            ),
        )
    )


def _mix_threshold_sql() -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in sorted(MIX_RATES.items())
    )
    return f"CASE lang {whens} ELSE {MIX_DEFAULT} END"


@register(
    "pipeline_hash_split",
    # Hashlib pin: tests/test_rotation_pins.py.
    oracle=f"""
    WITH b AS (
      SELECT *,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket,
             CAST(('0x' || substr(md5('{MIX_SALT}' ||
                                      CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % {MIX_RESOLUTION} < {_mix_threshold_sql()}
               AS keep
      FROM documents
    )
    SELECT CASE WHEN bucket < {SPLIT_PCT["train"]} THEN 'train'
                WHEN bucket < {SPLIT_PCT["val"]} THEN 'val'
                ELSE 'test' END AS split,
           lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT)
             AS sampled_chars
    FROM b GROUP BY 1, 2
    """,
    doc="Deterministic content-hash train/val/test split profile "
        "(md5 mod 100 — stable across runs/engines/partitionings) + "
        "salted per-language stratified data-mixing accounting in the "
        "same hash-agg pass",
    tags=("pipeline", "documents", "sampling"),
)
def q_hash_split(spark, sf_dir):
    return split_profile(load_table(prep(spark), sf_dir, "documents"))


@register(
    "pipeline_temperature_mix",
    # Pin: tests/test_pipeline.py temperature python reference
    # Rates are corpus-derived, so the oracle restates the whole
    # derivation: isqrt weights (exact — see
    # temperature_mix_thresholds), the 1-row (W, N) totals, the
    # HUGEINT/decimal(38,0) threshold division, and the salted
    # md5-bucket keep test shared with pipeline_hash_split.
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
    ), w AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(n_docs)) AS BIGINT) AS weight
      FROM counts
    ), tot AS (
      SELECT CAST(sum(weight) AS BIGINT) AS w_total,
             CAST(sum(n_docs) AS BIGINT) AS n_total
      FROM w
    ), thr AS (
      SELECT source, n_docs, weight,
             least(CAST({MIX_RESOLUTION} AS BIGINT),
                   CAST(({MIX_RESOLUTION}::HUGEINT
                         * (n_total // 2) * weight)
                        // (w_total * n_docs) AS BIGINT)) AS threshold
      FROM w CROSS JOIN tot
    ), keyed AS (
      SELECT source, n_chars,
             CAST(('0x' || substr(md5('{TEMP_SALT}'
                                      || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % {MIX_RESOLUTION} AS bucket
      FROM documents
    ), kept AS (
      SELECT k.source,
             CAST(sum(CASE WHEN k.bucket < t.threshold
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN k.bucket < t.threshold
                           THEN k.n_chars ELSE 0 END) AS BIGINT)
               AS kept_chars
      FROM keyed k JOIN thr t USING (source) GROUP BY 1
    )
    SELECT t.source, t.n_docs, t.weight, t.threshold,
           k.n_kept, k.kept_chars
    FROM thr t JOIN kept k USING (source)
    """,
    doc="Square-root temperature sampling (α=1/2 multilingual mix): "
        "per-source keep rates COMPUTED from corpus counts (isqrt "
        "weights, exact 128-bit threshold division, half-corpus "
        "budget), applied via the salted content-hash keep test — "
        "per-source accounting of docs/chars retained",
    tags=("pipeline", "documents", "sampling"),
)
def q_temperature_mix(spark, sf_dir):
    return temperature_mix_profile(
        load_table(prep(spark), sf_dir, "documents")
    )


@register(
    "pipeline_llm_data_prep",
    # Pin: tests/test_rotation_pins.py
    oracle=_oracle(),
    doc="End-to-end LLM data prep: quality gate -> language gate -> "
        "exact dedup -> per-language token budget (one declarative plan)",
    tags=("pipeline", "documents", "dedup", "text"),
)
def q_llm_data_prep(spark, sf_dir):
    return llm_data_prep(load_table(prep(spark), sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Benchmark decontamination (GPT-3 appendix C / Gopher appendix F): a
# training document that shares ANY long word n-gram with a held-out
# evaluation set leaks that benchmark into training. The published
# construction is exact 13-gram overlap; the held-out side is a FIXED
# benchmark whose size does not grow with the corpus, which is the
# whole scale story — its distinct n-grams broadcast to every executor
# and the 100 TB training side is never shuffled on the n-gram key.

DECONTAM_N = 13


def _doc_grams(
    docs: DataFrame, n: int, key: str, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(key[, extra_cols], _g) with the distinct word n-gram array per
    document — tokens bound before the shingle build (the
    ``shingles_from_tokens`` CSE rule)."""
    from flink_exercise_spark.functions.exprmemo import expr_memo
    from flink_exercise_spark.operators.text import shingles_from_tokens
    from flink_exercise_spark.sources.tables import spread

    sel1, gram_col = expr_memo(
        ("doc_grams", n, key, extra_cols),
        lambda: (
            [F.col(key), *[F.col(c) for c in extra_cols],
             tokens_expr().alias("_t")],
            F.array_distinct(
                shingles_from_tokens(F.col("_t"), n)
            ).alias("_g"),
        ),
    )
    return (
        spread(docs, key)
        .select(*sel1)
        .select(key, *extra_cols, gram_col)
        # Consumers use explode_outer below, NOT explode + a
        # size(_g) > 0 filter: both an explicit size filter and the
        # predicate Catalyst infers from a non-outer explode get
        # pushed below this projection with the whole 13-gram
        # expression INLINED — recomputing the shingle array per row
        # at the scan (observed in PLANS.md both ways). explode_outer
        # admits no inferred predicate; the NULL row it emits for
        # gram-less docs dies at the cheap post-explode
        # isnotnull(tok) / the inner join.
    )


def eval_ngram_set(
    docs: DataFrame, n: int = DECONTAM_N, key: str = "doc_id"
) -> DataFrame:
    """Distinct word n-grams of a held-out evaluation set, as the
    one-column (``tok``) relation ``decontaminate_against`` broadcasts.
    The ``distinct()`` shuffle moves the benchmark's n-grams only —
    a fixed-size relation regardless of corpus scale."""
    from flink_exercise_spark.functions.exprmemo import expr_memo

    tok_col, not_null = expr_memo(
        "eval_ngram_set",
        lambda: (
            F.explode_outer("_g").alias("tok"),
            F.col("tok").isNotNull(),
        ),
    )
    return (
        _doc_grams(docs, n, key)
        .select(tok_col)
        .filter(not_null)
        .distinct()
    )


def decontaminate_against(
    train: DataFrame,
    eval_grams: DataFrame,
    n: int = DECONTAM_N,
    key: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Core decontamination join: flag every ``train`` document sharing
    any word ``n``-gram with ``eval_grams`` (a one-column ``tok``
    relation, e.g. from ``eval_ngram_set``).

    Returns ONLY contaminated documents: ``(key[, extra_cols],
    n_shingles, n_eval_hits, contamination)`` where ``n_shingles``
    counts the document's DISTINCT n-grams, ``n_eval_hits`` how many
    occur in the held-out set, ``contamination = round(hits /
    shingles, 4)``. Documents with fewer than ``n`` tokens have no
    n-grams and can never be flagged.

    Scale shape: one scan of ``train``, ONE broadcast hash join on the
    n-gram (the held-out side is a fixed-size benchmark — its distinct
    n-grams broadcast; the corpus side never shuffles on the n-gram
    key), and one final hash-agg keyed by ``key`` that aggregates only
    the HITS — the post-join survivor set, tiny by construction
    (leakage is the exception, not the rule). The per-doc n-gram count
    rides through the explode as a projected column, so no second
    corpus-wide aggregate is needed.
    """
    from flink_exercise_spark.functions.exprmemo import expr_memo

    explode_cols, not_null, hits_agg, contam_col = expr_memo(
        ("decontaminate_against", key, extra_cols),
        lambda: (
            (
                F.size("_g").cast("long").alias("n_shingles"),
                F.explode_outer("_g").alias("tok"),
            ),
            F.col("tok").isNotNull(),
            F.count(F.lit(1)).alias("n_eval_hits"),
            F.round(
                F.col("n_eval_hits") / F.col("n_shingles"), 4
            ).alias("contamination"),
        ),
    )
    return (
        _doc_grams(train, n, key, extra_cols)
        .select(key, *extra_cols, *explode_cols)
        .filter(not_null)
        .join(F.broadcast(eval_grams), "tok")
        .groupBy(key, *extra_cols, "n_shingles")
        .agg(hits_agg)
        .select(
            key,
            *extra_cols,
            "n_shingles",
            "n_eval_hits",
            contam_col,
        )
    )


def decontaminate(
    docs: DataFrame, n: int = DECONTAM_N, key: str = "doc_id"
) -> DataFrame:
    """Flag train-side documents sharing any word ``n``-gram with the
    held-out ``test`` split of the same deterministic hash split that
    produced the training corpus (``hash_split_expr`` — so the check
    is reproducible across corpus versions and engines).

    Composition of ``eval_ngram_set`` (over the test split) and
    ``decontaminate_against`` (over the train+val side, carrying the
    split label). Two scans of ``documents`` — the n-gram relation is
    corpus-sized, so persisting it to share the scans would be wrong
    at 100 TB. In production the held-out side is a separate small
    table fed straight to ``decontaminate_against`` (the streaming
    ingest variant does exactly that, streaming/ingest.py); deriving
    it from the corpus' own hash split keeps the driver oracle on the
    pre-registered views.
    """
    with_split = docs.withColumn("split", hash_split_expr(key))
    eval_grams = eval_ngram_set(
        with_split.filter(F.col("split") == "test"), n, key
    )
    return decontaminate_against(
        with_split.filter(F.col("split") != "test"),
        eval_grams,
        n,
        key,
        extra_cols=("split",),
    )


def _decontam_oracle(n: int = DECONTAM_N) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(n))
    return f"""
    WITH b AS (
      SELECT doc_id, text,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM documents
    ),
    toks AS (
      SELECT doc_id, bucket,
             unnest(list_distinct(list_transform(
               range(1, len(t) - {n - 2}),
               i -> {gram}))) AS tok
      FROM (SELECT doc_id, bucket,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM b)
    ),
    ev AS (SELECT DISTINCT tok FROM toks
           WHERE bucket >= {SPLIT_PCT["val"]}),
    tr AS (
      SELECT doc_id, bucket, tok,
             count(*) OVER (PARTITION BY doc_id) AS n_shingles
      FROM toks WHERE bucket < {SPLIT_PCT["val"]}
    )
    SELECT tr.doc_id,
           CASE WHEN bucket < {SPLIT_PCT["train"]} THEN 'train'
                ELSE 'val' END AS split,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           count(*) AS n_eval_hits,
           round(count(*) / CAST(n_shingles AS DOUBLE), 4)
             AS contamination
    FROM tr JOIN ev USING (tok)
    GROUP BY tr.doc_id, bucket, n_shingles
    """


@register(
    "pipeline_decontaminate",
    # Pin: tests/test_pipeline.py hand-computed leak/clean cases +
    # hashlib bucket pin.
    oracle=_decontam_oracle(),
    doc="Benchmark decontamination: train-side documents sharing any "
        "word 13-gram with the held-out split (GPT-3/Gopher exact "
        "overlap), broadcast join on the n-gram — the held-out side "
        "is a fixed-size benchmark, so the corpus side never shuffles",
    tags=("pipeline", "documents", "dedup", "text"),
)
def q_decontaminate(spark, sf_dir):
    return decontaminate(load_table(prep(spark), sf_dir, "documents"))


def decontaminate_fuzzy(
    train: DataFrame,
    eval_docs: DataFrame,
    threshold: float = 0.5,
    key: str = "doc_id",
    eval_key: str = "eval_id",
) -> DataFrame:
    """FUZZY benchmark decontamination: flag train documents NEAR-
    duplicating a held-out document (MinHash-LSH candidates verified
    by exact shingle Jaccard) — the companion to ``decontaminate``'s
    exact 13-gram overlap. Exact n-gram matching misses paraphrased /
    lightly-edited leakage; near-dup matching against the benchmark is
    the standard second pass (the same two-stage LSH->verify pipeline
    ``dedup.lsh_verified_pairs`` runs within a corpus, here CROSS-
    relation).

    Returns (key, eval_key, jaccard) for every (train doc, eval doc)
    pair at/above ``threshold``.

    Scale shape: the benchmark side is fixed-size by production
    contract (same contract as ``decontaminate_against``), so BOTH its
    band buckets and its shingle inverted index broadcast; the corpus
    side computes signatures in one scan + vocabulary-shaped shuffle
    (dedup.minhash_signatures) and only docs colliding with a
    benchmark bucket — leakage candidates, tiny by construction —
    reach the verify join. The corpus never shuffles on the n-gram.
    """
    from flink_exercise_spark.operators.dedup import (
        _banded_signatures,
        _doc_shingles,
        minhash_signatures,
    )

    ev = eval_docs.select(F.col(key).alias(eval_key), "text")
    ev_banded = _banded_signatures(
        minhash_signatures(ev.withColumnRenamed(eval_key, "doc_id"))
    ).select(
        F.col("doc_id").alias(eval_key), "band_id", "band_hash"
    )
    tr_banded = _banded_signatures(minhash_signatures(train))
    cands = (
        tr_banded.join(F.broadcast(ev_banded), ["band_id", "band_hash"])
        .select(key, eval_key)
        .distinct()
    )

    ev_toks = _doc_shingles(
        ev.withColumnRenamed(eval_key, "doc_id")
    ).select(F.col("doc_id").alias(eval_key), "tok")
    ev_sizes = ev_toks.groupBy(eval_key).agg(
        F.count(F.lit(1)).alias("n_ev")
    )
    tr_toks = _doc_shingles(train)
    tr_sizes = tr_toks.groupBy(key).agg(F.count(F.lit(1)).alias("n_tr"))

    shared = (
        cands.join(tr_toks, key)
        .join(F.broadcast(ev_toks), [eval_key, "tok"])
        .groupBy(key, eval_key)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(tr_sizes, key)
        .join(F.broadcast(ev_sizes), eval_key)
        .select(
            key,
            eval_key,
            F.round(
                F.col("n_shared")
                / (F.col("n_tr") + F.col("n_ev") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _decontam_fuzzy_oracle(threshold: float = 0.5) -> str:
    """DuckDB twin of the registered ``decontaminate_fuzzy`` run: the
    shared banded-signature CTE (dedup.py's md5 minhash construction,
    verbatim) built PER SPLIT SIDE of the same hash split
    ``_decontam_oracle`` states, candidates from the cross-side band
    join, exact shingle Jaccard on the candidates."""
    from flink_exercise_spark.operators.dedup import BAND_ROWS, N_MINHASH

    k, r = N_MINHASH, BAND_ROWS
    sig_cols = ",\n               ".join(
        f"min(md5('{i}|' || tok)) AS h{i}" for i in range(k)
    )
    bands = ", ".join(
        f"md5(h{b * r} || '|' || h{b * r + 1}) AS band{b}"
        for b in range(k // r)
    )

    def unions(side: str) -> str:
        return "\n      UNION ALL\n      ".join(
            f"SELECT doc_id, {b} AS band_id, band{b} AS band_hash "
            f"FROM sigs_{side}"
            for b in range(k // r)
        )

    return f"""
    WITH b AS (
      SELECT doc_id, text,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM documents
    ),
    toks AS (
      SELECT doc_id, bucket,
             unnest(list_distinct(list_transform(
               range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS tok
      FROM (SELECT doc_id, bucket,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM b)
    ),
    toks_tr AS (SELECT doc_id, tok FROM toks
                WHERE bucket < {SPLIT_PCT["val"]}),
    toks_ev AS (SELECT doc_id, tok FROM toks
                WHERE bucket >= {SPLIT_PCT["val"]}),
    sigs_tr AS (
      SELECT doc_id, {bands} FROM (
        SELECT doc_id, {sig_cols}
        FROM toks_tr GROUP BY doc_id)
    ),
    sigs_ev AS (
      SELECT doc_id, {bands} FROM (
        SELECT doc_id, {sig_cols}
        FROM toks_ev GROUP BY doc_id)
    ),
    banded_tr AS (
      {unions("tr")}
    ),
    banded_ev AS (
      {unions("ev")}
    ),
    cands AS (
      SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
      FROM banded_tr t JOIN banded_ev e
        ON t.band_id = e.band_id AND t.band_hash = e.band_hash
    ),
    sz_tr AS (SELECT doc_id, count(*) AS n_tr FROM toks_tr GROUP BY 1),
    sz_ev AS (SELECT doc_id, count(*) AS n_ev FROM toks_ev GROUP BY 1),
    shared AS (
      SELECT c.doc_id, c.eval_id, count(*) AS n_shared
      FROM cands c
      JOIN toks_tr t ON t.doc_id = c.doc_id
      JOIN toks_ev e ON e.doc_id = c.eval_id AND e.tok = t.tok
      GROUP BY 1, 2
    )
    SELECT s.doc_id, s.eval_id,
           round(n_shared / (a.n_tr + v.n_ev - n_shared), 4) AS jaccard
    FROM shared s
    JOIN sz_tr a ON a.doc_id = s.doc_id
    JOIN sz_ev v ON v.doc_id = s.eval_id
    WHERE round(n_shared / (a.n_tr + v.n_ev - n_shared), 4)
          >= {threshold}
    """


@register(
    "pipeline_decontaminate_fuzzy",
    # Pin: tests/test_rotation_pins.py
    oracle=_decontam_fuzzy_oracle(),
    doc="FUZZY benchmark decontamination (Dolma-style): train docs "
        "near-duplicating a held-out doc — MinHash-LSH candidates "
        "(benchmark side broadcasts) verified by exact shingle "
        "Jaccard; catches paraphrased leakage the exact 13-gram "
        "overlap provably misses",
    tags=("pipeline", "documents", "dedup", "text", "minhash"),
)
def q_decontaminate_fuzzy(spark, sf_dir):
    docs = load_table(prep(spark), sf_dir, "documents")
    with_split = docs.withColumn("split", hash_split_expr("doc_id"))
    return decontaminate_fuzzy(
        with_split.filter(F.col("split") != "test").select(
            "doc_id", "text"
        ),
        with_split.filter(F.col("split") == "test").select(
            "doc_id", "text"
        ),
        threshold=0.5,
    )
