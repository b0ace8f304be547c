"""n-gram LM log-probability quality gate — the KenLM-shaped
perplexity filter (VERDICT r8 ask #5), completing the quality-signal
set next to DSIR (importance.py) and token rarity (tokenizer.py).

The standard corpus-quality signal: train a small n-gram language
model, score every document by mean token log-probability, gate on the
score (low log-prob = high perplexity = gibberish / boilerplate /
wrong-language text). The deployed filter trains the LM on a CLEAN
reference corpus and scores the crawl; ``bigram_lm`` / ``score_with_lm``
split exactly that way (train here, score there — the tokenizer /
quality-classifier pattern). The registered entry self-scores the
fixture corpus (model corpus = scored corpus), which the DuckDB oracle
restates end to end.

Model: add-one-smoothed bigram conditionals
``p(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V)`` with V = follower
vocabulary size — smoothing makes the model total (every (w1, w2)
scores, including OOV), and the constant is fixed at 1 so the SQL twin
restates it verbatim.

Integer-exactness discipline (the DSIR/token_rarity rules):

- ``ln`` runs ONLY on model-sized relations — once per distinct bigram
  (the LM), once per distinct prefix (the seen-w1/unseen-w2 fallback),
  once globally (the unseen-w1 fallback) — each fixed to integer
  MICRO-NATS (round(ln(p) * 1e6), the importance.py construction), so
  every corpus-sized aggregate is exact long arithmetic with no
  float-summation order anywhere near the value-hash gate;
- the per-doc mean is ONE final float division of two exact integers,
  rounded once — identical IEEE operation in both engines.

Scale shape: ONE corpus pass builds the bigram histogram (two-phase
hash agg — distinct pairs shuffle, not occurrences; the bigram_lift
shape); prefix totals and V derive from the histogram, never a second
corpus pass. Scoring joins the corpus's bigram instances against the
vocabulary-sized LM on (w1, w2) — AQE picks the broadcast side (the
token_rarity rule: no unconditional broadcast, vocabulary size is
data-dependent) — and per-doc partial sums combine map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.caching import persist_tracked
from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table

MICRO = 1_000_000


def bigram_instances(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """``(key, w1, w2)`` — one row per ADJACENT whitespace-token pair
    occurrence (frequencies, not sets: LMs model counts). Delegates to
    tokenizer.bigram_pairs (ONE implementation of the load-bearing
    pair fold and its lambda-CSE binding discipline — code-review r9);
    documents with < 2 tokens (including NULL/blank text) have no
    bigrams and drop here — the scorer restores them via left join."""
    from flink_exercise_spark.operators.tokenizer import bigram_pairs

    return bigram_pairs(docs, key=key).withColumnsRenamed(
        {"a": "w1", "b": "w2"}
    )


def bigram_lm(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit the smoothed bigram LM. Returns three MODEL relations:

    - ``lm``: (w1, w2, logp_micronats) — round(ln((c12+1)/(c1+V))*1e6)
      per observed bigram;
    - ``prefixes``: (w1, oov_w2_micronats) — the seen-prefix OOV
      fallback round(ln(1/(c1+V))*1e6), one row per distinct w1;
    - ``oov``: 1-row (oov_w1_micronats) — the unseen-prefix fallback
      round(ln(1/V)*1e6) plus V itself.

    All three are vocabulary-sized or smaller; every ``ln`` in the
    operator lives here."""
    from flink_exercise_spark.functions.exprmemo import expr_memo

    # static expression trees (r14 exprmemo); try_divide: an EMPTY
    # training corpus has V = 0, and ANSI mode turns the uniform
    # fallback's 1/V into a hard DIVIDE_BY_ZERO at scoring time — the
    # degenerate model instead scores everything with NULL fallbacks
    # (NULL-safe zero sums downstream), pinned in
    # test_empty_and_null_inputs.py
    n12_agg, n1_agg, nv_col, lm_lp, pf_lp, ov_lp = expr_memo(
        "bigram_lm", _bigram_lm_exprs
    )
    c12 = persist_tracked(
        bigram_instances(docs).groupBy("w1", "w2").agg(n12_agg)
    )
    c1 = c12.groupBy("w1").agg(n1_agg)
    v = c12.select(nv_col)
    lm = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select("w1", "w2", lm_lp)
    )
    prefixes = c1.crossJoin(F.broadcast(v)).select("w1", pf_lp)
    oov = v.select(ov_lp, "nv")
    return lm, prefixes, oov


def _bigram_lm_exprs():
    n12_agg = F.count(F.lit(1)).alias("n12")
    n1_agg = F.sum("n12").cast("long").alias("n1")
    nv_col = F.countDistinct("w2").cast("long").alias("nv")
    lm_lp = (
        F.round(
            F.log(
                (F.col("n12") + 1).cast("double")
                / (F.col("n1") + F.col("nv")).cast("double")
            )
            * MICRO,
            0,
        )
        .cast("long")
        .alias("logp_micronats")
    )
    pf_lp = (
        F.round(
            F.log(
                F.try_divide(
                    F.lit(1.0),
                    (F.col("n1") + F.col("nv")).cast("double"),
                )
            )
            * MICRO,
            0,
        )
        .cast("long")
        .alias("oov_w2_micronats")
    )
    ov_lp = (
        F.round(
            F.log(F.try_divide(F.lit(1.0), F.col("nv").cast("double")))
            * MICRO,
            0,
        )
        .cast("long")
        .alias("oov_w1_micronats")
    )
    return n12_agg, n1_agg, nv_col, lm_lp, pf_lp, ov_lp


def score_with_lm(
    docs: DataFrame,
    lm: DataFrame,
    prefixes: DataFrame,
    oov: DataFrame,
    key: str = "doc_id",
) -> DataFrame:
    """Per-document LM score: ``(key, n_bigrams, sum_logp_micronats,
    mean_logp)`` — one output row per input document, always (the
    classifier contract). n_bigrams = 0 and NULL mean for documents
    with < 2 tokens. mean_logp = round(sum / (n * 1e6), 6): one float
    division of exact integers, rounded once. Perplexity is
    exp(-mean_logp) — monotone in the emitted score, so gates
    threshold this column directly (exp would put libm in the
    corpus-sized path for no ranking information).

    OOV fallbacks (unseen bigram under a seen prefix; unseen prefix)
    resolve from the model-sized relations — no per-row ``ln``."""
    from flink_exercise_spark.functions.exprmemo import expr_memo

    lp_col, aggs, out_cols = expr_memo(
        ("score_with_lm", key), lambda: _score_with_lm_exprs(key)
    )
    inst = bigram_instances(docs, key)
    scored = (
        inst.join(lm, ["w1", "w2"], "left")
        .join(prefixes, "w1", "left")
        .crossJoin(F.broadcast(oov.select("oov_w1_micronats")))
        .select(key, lp_col)
        .groupBy(key)
        .agg(*aggs)
    )
    return docs.select(key).join(scored, key, "left").select(key, *out_cols)


def _score_with_lm_exprs(key: str):
    lp_col = F.coalesce(
        "logp_micronats", "oov_w2_micronats", "oov_w1_micronats"
    ).alias("_lp")
    aggs = (
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("_lp").cast("long").alias("sum_logp_micronats"),
    )
    out_cols = (
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("sum_logp_micronats", F.lit(0)).cast("long").alias(
            "sum_logp_micronats"
        ),
        F.when(
            F.col("n_bigrams") > 0,
            F.round(
                F.col("sum_logp_micronats")
                / (F.col("n_bigrams") * F.lit(float(MICRO))),
                6,
            ),
        ).alias("mean_logp"),
    )
    return lp_col, aggs, out_cols


def doc_logprob(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Self-scored corpus LM log-probability: fit the bigram LM on
    ``docs`` and score ``docs`` with it — the registered derivation
    (every bigram is observed, so the OOV arms never fire; they are
    exercised cross-corpus in tests)."""
    lm, prefixes, oov = bigram_lm(docs)
    return score_with_lm(docs, lm, prefixes, oov, key)


def _lm_oracle(train_where: str, score_where: str) -> str:
    """ONE SQL template for both registered LM oracles (code-review
    r9: the tokenization + smoothing arithmetic the value-hash gate
    depends on must never fork between the self-scored and
    cross-corpus entries) — parameterized only by which documents
    train the model and which are scored. The fallback CTEs are inert
    under self-scoring (every scored bigram is observed) and live
    under a genuine train/score split.

    ``score_where`` is applied at two differently-aliased scopes, so
    it is a str.format template with an explicit ``{t}`` table-alias
    placeholder (e.g. ``"{t}.doc_id >= 250"``) — NOT rewritten by
    substring replacement, which would silently corrupt any future
    predicate embedding 'doc_id' inside another identifier (r9
    ADVICE)."""
    sw_b = score_where.format(t="b")
    sw_d = score_where.format(t="d")
    return f"""
WITH toked AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
         unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
  FROM toked WHERE len(t) >= 2
),
c12 AS (
  SELECT w1, w2, count(*) AS n12 FROM big
  WHERE {train_where} GROUP BY w1, w2
),
c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c12 GROUP BY w1),
v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS nv FROM c12),
lm AS (
  SELECT w1, w2,
         CAST(round(ln((n12 + 1)::DOUBLE / (n1 + nv)::DOUBLE)
                    * {MICRO}, 0) AS BIGINT) AS lp
  FROM c12 JOIN c1 USING (w1) CROSS JOIN v
),
pf AS (
  SELECT w1,
         CAST(round(ln(1.0 / (n1 + nv)::DOUBLE) * {MICRO}, 0) AS BIGINT)
           AS lp
  FROM c1 CROSS JOIN v
),
ov AS (
  SELECT CAST(round(ln(1.0 / nv::DOUBLE) * {MICRO}, 0) AS BIGINT) AS lp
  FROM v
),
scored AS (
  SELECT b.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(coalesce(lm.lp, pf.lp, ov.lp)) AS BIGINT) AS s
  FROM big b
  LEFT JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2
  LEFT JOIN pf ON b.w1 = pf.w1
  CROSS JOIN ov
  WHERE {sw_b}
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(sc.s, 0) AS BIGINT) AS sum_logp_micronats,
       round(sc.s / (sc.n_bigrams * {MICRO}.0), 6) AS mean_logp
FROM documents d LEFT JOIN scored sc USING (doc_id)
WHERE {sw_d}
"""


@register(
    "text_ngram_logprob",
    # Pin: tests/test_ngram_lm.py fixture python reference
    oracle=_lm_oracle(train_where="TRUE", score_where="TRUE"),
    doc="n-gram LM quality gate (KenLM-shaped perplexity filter): "
        "add-one-smoothed bigram LM fitted on the corpus, every "
        "document scored by exact-integer micro-nat log-prob sum and "
        "once-rounded mean — perplexity = exp(-mean_logp), monotone "
        "in the emitted score",
    tags=("text", "documents", "quality", "lm"),
)
def q_ngram_logprob(spark, sf_dir):
    return doc_logprob(load_table(prep(spark), sf_dir, "documents"))


# Train/score split for the cross-corpus registered entry: the LM fits
# on the first half (the "clean reference corpus" role), scores the
# second (the "crawl") — novel bigrams and novel prefixes in the
# scored half put BOTH OOV fallback arms under the driver's value-hash
# gate (the self-scored entry can never exercise them).
LM_SPLIT = 250

@register(
    "text_lm_cross_score",
    # Pin: tests/test_ngram_lm.py cross-corpus OOV reference
    oracle=_lm_oracle(
        train_where=f"doc_id < {LM_SPLIT}",
        score_where=f"{{t}}.doc_id >= {LM_SPLIT}",
    ),
    doc="Cross-corpus LM scoring (the deployed perplexity-filter "
        "shape): bigram LM trained on the reference half (doc_id < "
        "250), the crawl half scored with the seen-prefix OOV "
        "fallback live under the value-hash gate (fires at driver "
        "scale; the unseen-prefix arm is crafted-corpus-pinned in "
        "test_ngram_lm.py — the fixture halves share their "
        "vocabulary)",
    tags=("text", "documents", "quality", "lm"),
)
def q_lm_cross_score(spark, sf_dir):
    docs = load_table(prep(spark), sf_dir, "documents")
    lm, prefixes, oov = bigram_lm(docs.filter(F.col("doc_id") < LM_SPLIT))
    return score_with_lm(
        docs.filter(F.col("doc_id") >= LM_SPLIT), lm, prefixes, oov
    )


# ---------------------------------------------------------------------------
# Trigram stupid backoff (VERDICT r9 ask #6)
# ---------------------------------------------------------------------------

# Stupid backoff (Brants et al. 2007, "Large Language Models in
# Machine Translation"): S(w3|w1,w2) = c123/c12 if the trigram was
# observed, else ALPHA * S(w3|w2), recursing to ALPHA^2 * c3/N and an
# ALPHA^2 * (1/N) floor for out-of-vocabulary tokens. Deliberately NOT
# normalized (no discounting, no Katz mass redistribution) — scores
# are pure count ratios times a constant, which is exactly what makes
# the model SQL-restatable under the value-hash gate.
BACKOFF_ALPHA = 0.4
# The runtime product, NOT the 0.16 decimal literal: 0.4 * 0.4 is one
# ulp off 0.16 in IEEE, and both engines must feed ln() the SAME
# double (the SQL twin embeds repr(ALPHA2), Spark lits it).
BACKOFF_ALPHA2 = BACKOFF_ALPHA * BACKOFF_ALPHA


def trigram_instances(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """``(key, w1, w2, w3)`` — one row per adjacent token TRIPLE
    occurrence (the bigram_pairs fold extended one slot; same
    bind-the-array-before-the-lambda discipline). Documents with < 3
    tokens have no trigrams and drop here — the scorer restores them
    via left join."""
    from flink_exercise_spark.functions.exprmemo import expr_memo
    from flink_exercise_spark.operators.text import tokens_expr
    from flink_exercise_spark.sources.tables import spread

    not_null, tok_col, size_ge3, tri_col = expr_memo(
        ("trigram_instances", key),
        lambda: (
            F.col("text").isNotNull(),
            tokens_expr().alias("_t"),
            F.size("_t") >= 3,
            F.explode(
                F.expr(
                    "transform(sequence(2, size(_t) - 1), "
                    "i -> struct(_t[i-2] AS w1, _t[i-1] AS w2, _t[i] AS w3))"
                )
            ).alias("_g"),
        ),
    )
    src = spread(docs.filter(not_null).select(key, "text"), key)
    toked = src.select(key, tok_col).filter(size_ge3)
    return toked.select(key, tri_col).select(key, "_g.w1", "_g.w2", "_g.w3")


def backoff_trigram_lm(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Fit the stupid-backoff trigram model. Returns four MODEL
    relations, every ``ln`` in the operator fixed here to integer
    micro-nats (the bigram_lm discipline):

    - ``t3``: (w1, w2, w3, lp3) = round(ln(c123/c12) * 1e6) per
      observed trigram — c12 is the trigram-CONTEXT count (sum of
      c123 over w3), so the conditional derives from one histogram;
    - ``b2``: (w2, w3, lp2) = round(ln(ALPHA * c23/c2) * 1e6) per
      observed bigram (c2 likewise the bigram-context sum);
    - ``u1``: (w3, lp1) = round(ln(ALPHA^2 * c3/N) * 1e6) per
      observed token, N = total token count;
    - ``oov``: 1-row lp0 = round(ln(ALPHA^2 * (1/N)) * 1e6) — the
      out-of-vocabulary floor.

    Scale shape: one corpus pass per order builds each histogram
    (distinct n-grams shuffle, not occurrences — two-phase hash agg);
    context sums and the scoring joins are model-sized."""
    from flink_exercise_spark.functions.exprmemo import expr_memo
    from flink_exercise_spark.operators.tokenizer import bigram_pairs
    from flink_exercise_spark.sources.tables import spread

    # static expression trees (r14 exprmemo); try_divide: the
    # empty-corpus degenerate model scores everything with NULL
    # fallbacks instead of an ANSI DIVIDE_BY_ZERO (the bigram_lm
    # convention).
    (
        n123_agg, n12_agg, lp3_col, n23_agg, n2_agg, lp2_col,
        uni_filter, uni_col, n3_agg, n_agg, lp1_col, lp0_col,
    ) = expr_memo("backoff_trigram_lm", _backoff_lm_exprs)
    c123 = persist_tracked(
        trigram_instances(docs).groupBy("w1", "w2", "w3").agg(n123_agg)
    )
    c12 = c123.groupBy("w1", "w2").agg(n12_agg)
    t3 = c123.join(c12, ["w1", "w2"]).select("w1", "w2", "w3", lp3_col)
    c23 = persist_tracked(
        bigram_pairs(docs)
        .withColumnsRenamed({"a": "w2", "b": "w3"})
        .groupBy("w2", "w3")
        .agg(n23_agg)
    )
    c2 = c23.groupBy("w2").agg(n2_agg)
    b2 = c23.join(c2, "w2").select("w2", "w3", lp2_col)
    # Unigram histogram: all tokens of non-blank documents (a blank
    # document tokenizes to [''], which must not count as vocabulary).
    uni = spread(docs.filter(uni_filter).select("text")).select(uni_col)
    c3 = persist_tracked(uni.groupBy("w3").agg(n3_agg))
    n_total = c3.select(n_agg)
    u1 = c3.crossJoin(F.broadcast(n_total)).select("w3", lp1_col)
    oov = n_total.select(lp0_col)
    return t3, b2, u1, oov


def _backoff_lm_exprs():
    from flink_exercise_spark.operators.text import tokens_expr

    n123_agg = F.count(F.lit(1)).alias("n123")
    n12_agg = F.sum("n123").cast("long").alias("n12")
    lp3_col = (
        F.round(
            F.log(F.col("n123").cast("double") / F.col("n12").cast("double"))
            * MICRO,
            0,
        )
        .cast("long")
        .alias("lp3")
    )
    n23_agg = F.count(F.lit(1)).alias("n23")
    n2_agg = F.sum("n23").cast("long").alias("n2")
    lp2_col = (
        F.round(
            F.log(
                F.lit(BACKOFF_ALPHA)
                * F.col("n23").cast("double")
                / F.col("n2").cast("double")
            )
            * MICRO,
            0,
        )
        .cast("long")
        .alias("lp2")
    )
    uni_filter = F.col("text").isNotNull() & (F.trim("text") != "")
    uni_col = F.explode(tokens_expr()).alias("w3")
    n3_agg = F.count(F.lit(1)).alias("n3")
    n_agg = F.sum("n3").cast("long").alias("n")
    lp1_col = (
        F.round(
            F.log(
                F.lit(BACKOFF_ALPHA2)
                * F.try_divide(
                    F.col("n3").cast("double"), F.col("n").cast("double")
                )
            )
            * MICRO,
            0,
        )
        .cast("long")
        .alias("lp1")
    )
    lp0_col = (
        F.round(
            F.log(
                F.lit(BACKOFF_ALPHA2)
                * F.try_divide(F.lit(1.0), F.col("n").cast("double"))
            )
            * MICRO,
            0,
        )
        .cast("long")
        .alias("lp0")
    )
    return (
        n123_agg, n12_agg, lp3_col, n23_agg, n2_agg, lp2_col,
        uni_filter, uni_col, n3_agg, n_agg, lp1_col, lp0_col,
    )


def score_with_backoff(
    docs: DataFrame,
    t3: DataFrame,
    b2: DataFrame,
    u1: DataFrame,
    oov: DataFrame,
    key: str = "doc_id",
) -> DataFrame:
    """Per-document stupid-backoff score: ``(key, n_trigrams,
    sum_logp_micronats, mean_logp)`` — one output row per input
    document (n_trigrams = 0 and NULL mean for documents with < 3
    tokens). The backoff CASCADE is a coalesce over three left joins
    of successively lower-order model relations plus the broadcast
    1-row floor — no per-row ``ln``, exact long sums, one rounded
    float division at the end (the score_with_lm contract)."""
    from flink_exercise_spark.functions.exprmemo import expr_memo

    lp_col, aggs, out_cols = expr_memo(
        ("score_with_backoff", key), lambda: _score_backoff_exprs(key)
    )
    inst = trigram_instances(docs, key)
    scored = (
        inst.join(t3, ["w1", "w2", "w3"], "left")
        .join(b2, ["w2", "w3"], "left")
        .join(u1, "w3", "left")
        .crossJoin(F.broadcast(oov))
        .select(key, lp_col)
        .groupBy(key)
        .agg(*aggs)
    )
    return docs.select(key).join(scored, key, "left").select(key, *out_cols)


def _score_backoff_exprs(key: str):
    lp_col = F.coalesce("lp3", "lp2", "lp1", "lp0").alias("_lp")
    aggs = (
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.sum("_lp").cast("long").alias("sum_logp_micronats"),
    )
    out_cols = (
        F.coalesce("n_trigrams", F.lit(0)).cast("long").alias("n_trigrams"),
        F.coalesce("sum_logp_micronats", F.lit(0)).cast("long").alias(
            "sum_logp_micronats"
        ),
        F.when(
            F.col("n_trigrams") > 0,
            F.round(
                F.col("sum_logp_micronats")
                / (F.col("n_trigrams") * F.lit(float(MICRO))),
                6,
            ),
        ).alias("mean_logp"),
    )
    return lp_col, aggs, out_cols


def _backoff_oracle(train_where: str, score_where: str) -> str:
    """SQL twin of backoff_trigram_lm + score_with_backoff, the
    _lm_oracle conventions: {t}-templated score predicate, every
    ln-bearing relation model-sized, BIGINT casts against DuckDB's
    HUGEINT widening, repr-embedded ALPHA constants so both engines
    feed ln() bit-identical doubles."""
    sw_tr = score_where.format(t="tr")
    sw_d = score_where.format(t="d")
    return f"""
WITH toked AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
tri AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - 1), i -> t[i])) AS w1,
         unnest(list_transform(range(1, len(t) - 1), i -> t[i+1])) AS w2,
         unnest(list_transform(range(1, len(t) - 1), i -> t[i+2])) AS w3
  FROM toked WHERE len(t) >= 3
),
big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i])) AS w2,
         unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w3
  FROM toked WHERE len(t) >= 2
),
uni AS (SELECT doc_id, unnest(t) AS w3 FROM toked),
c123 AS (
  SELECT w1, w2, w3, count(*) AS n123 FROM tri
  WHERE {train_where} GROUP BY w1, w2, w3
),
c12 AS (
  SELECT w1, w2, CAST(sum(n123) AS BIGINT) AS n12 FROM c123 GROUP BY w1, w2
),
t3 AS (
  SELECT w1, w2, w3,
         CAST(round(ln(n123::DOUBLE / n12::DOUBLE) * {MICRO}, 0) AS BIGINT)
           AS lp3
  FROM c123 JOIN c12 USING (w1, w2)
),
c23 AS (
  SELECT w2, w3, count(*) AS n23 FROM big
  WHERE {train_where} GROUP BY w2, w3
),
c2 AS (SELECT w2, CAST(sum(n23) AS BIGINT) AS n2 FROM c23 GROUP BY w2),
b2 AS (
  SELECT w2, w3,
         CAST(round(ln({BACKOFF_ALPHA!r} * n23::DOUBLE / n2::DOUBLE)
                    * {MICRO}, 0) AS BIGINT) AS lp2
  FROM c23 JOIN c2 USING (w2)
),
c3 AS (
  SELECT w3, count(*) AS n3 FROM uni WHERE {train_where} GROUP BY w3
),
nt AS (SELECT CAST(sum(n3) AS BIGINT) AS n FROM c3),
u1 AS (
  SELECT w3,
         CAST(round(ln({BACKOFF_ALPHA2!r} * (n3::DOUBLE / n::DOUBLE))
                    * {MICRO}, 0) AS BIGINT) AS lp1
  FROM c3 CROSS JOIN nt
),
ov AS (
  SELECT CAST(round(ln({BACKOFF_ALPHA2!r} * (1.0 / n::DOUBLE))
                    * {MICRO}, 0) AS BIGINT) AS lp0
  FROM nt
),
scored AS (
  SELECT tr.doc_id,
         CAST(count(*) AS BIGINT) AS n_trigrams,
         CAST(sum(coalesce(t3.lp3, b2.lp2, u1.lp1, ov.lp0)) AS BIGINT) AS s
  FROM tri tr
  LEFT JOIN t3 ON tr.w1 = t3.w1 AND tr.w2 = t3.w2 AND tr.w3 = t3.w3
  LEFT JOIN b2 ON tr.w2 = b2.w2 AND tr.w3 = b2.w3
  LEFT JOIN u1 ON tr.w3 = u1.w3
  CROSS JOIN ov
  WHERE {sw_tr}
  GROUP BY tr.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(sc.n_trigrams, 0) AS BIGINT) AS n_trigrams,
       CAST(coalesce(sc.s, 0) AS BIGINT) AS sum_logp_micronats,
       round(sc.s / (sc.n_trigrams * {MICRO}.0), 6) AS mean_logp
FROM documents d LEFT JOIN scored sc USING (doc_id)
WHERE {sw_d}
"""


@register(
    "text_lm_backoff_trigram",
    # Pin: tests/test_ngram_lm.py::test_backoff_fixture_matches_py
    # thon_reference.
    oracle=_backoff_oracle(
        train_where=f"doc_id < {LM_SPLIT}",
        score_where=f"{{t}}.doc_id >= {LM_SPLIT}",
    ),
    doc="Trigram stupid-backoff LM (Brants et al. 2007): unnormalized "
        "backoff-factor scoring — trigram conditional, else 0.4x the "
        "bigram conditional, else 0.16x the unigram frequency, else "
        "the 0.16/N OOV floor — trained on the reference half "
        "(doc_id < 250), the crawl half scored; novel trigrams put "
        "the backoff arms under the value-hash gate at driver scale",
    tags=("text", "documents", "quality", "lm"),
)
def q_lm_backoff_trigram(spark, sf_dir):
    docs = load_table(prep(spark), sf_dir, "documents")
    t3, b2, u1, oov = backoff_trigram_lm(
        docs.filter(F.col("doc_id") < LM_SPLIT)
    )
    return score_with_backoff(
        docs.filter(F.col("doc_id") >= LM_SPLIT), t3, b2, u1, oov
    )
