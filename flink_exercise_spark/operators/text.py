"""Text-analysis operators over the documents table — north-star ops
(BASELINE.json): language-ID, quality scoring, token counting, document
fingerprinting. All pure Column expressions (whole-stage codegen, no
Python in the hot path); each is oracle-checked against identical logic
in DuckDB.

Scale notes: every operator here is embarrassingly parallel (per-row
projection or a single hash aggregate), so at 100 TB cost is scan-bound;
the only care point is avoiding a regex catastrophic backtrack on
adversarial documents — all patterns used are linear-time-safe
(character classes, no nested quantifiers).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table, spread

# Marker stopwords per language for the n-gram/keyword heuristic
# language-ID. Deterministic across engines; precedence order breaks
# score ties (first listed wins).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "une"),
}

STOPWORDS = LANG_MARKERS["en"]

# BPE-ish pre-tokenizer: word pieces or single non-word-non-space marks.
# Linear-time in both Java regex and RE2.
BPE_TOKEN_PATTERN = r"\w+|[^\w\s]"

# PII patterns — the subset expressible identically in Java regex
# (Spark) and RE2 (DuckDB): character classes, \b, bounded repeats.
# Scrub order is load-bearing (URLs may embed user@host, so URLs are
# replaced first) and identical on both engines.
URL_PATTERN = r"https?://\S+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_PATTERN = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def tokens_expr(text: str | Column = "text") -> Column:
    """Whitespace tokens of a trimmed document. Memoized per column
    NAME (r14 exprmemo) — the single most-referenced expression in the
    text/dedup/retrieval families."""
    if not isinstance(text, str):
        return F.split(F.trim(text), r"\s+")
    from flink_exercise_spark.functions.exprmemo import expr_memo

    return expr_memo(
        ("tokens_expr", text),
        lambda: F.split(F.trim(F.col(text)), r"\s+"),
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an already-materialized token array
    (1-based positions, matching the DuckDB oracle's
    ``t[i] || ' ' || t[i+1] ...``).

    ``toks`` MUST be a bound column (not a ``split(...)`` expression):
    the shingle builder references it ~3n times, and Catalyst does not
    common-subexpression-eliminate through the ``transform`` lambda —
    passing the raw split expression re-tokenizes the document per
    reference, O(tokens x length) per row (measured 8.1s -> 1.3s for
    the sf0.1 shingle explode).

    Documents shorter than n tokens produce no shingles (guarded:
    Spark's ``sequence(1, size-n+1)`` would count *down* when
    size < n).
    """
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(n)]
    )
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)), gram),
    ).otherwise(F.array().cast("array<string>"))


def shingles_expr(text: str | Column = "text", n: int = 3) -> Column:
    """Word n-gram shingles straight from a text column.

    Shingles, not unigrams, are the dedup unit: on a small shared
    vocabulary nearly all documents share most *words* (measured on the
    fixtures: unigram MinHash banding yields 7.5M candidate pairs at
    sf0.1 vs 907 with 3-gram shingles), while n-gram overlap isolates
    genuinely duplicated passages — the Gopher/RefinedWeb-style
    construction.

    Prefer the two-step ``select(tokens_expr().alias(c))`` +
    ``shingles_from_tokens(col(c))`` form in hot paths (see that
    function's CSE note); this convenience wrapper re-tokenizes per
    reference and is fine only for small/one-off inputs.
    """
    return shingles_from_tokens(tokens_expr(text), n)


def _marker_score(toks: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document token statistics."""
    toks = tokens_expr()
    n_tokens = F.size(toks)
    token_chars = F.length(F.regexp_replace(F.trim("text"), r"\s", ""))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(token_chars / n_tokens, 4).alias("avg_token_len"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Keyword-marker language ID: score each candidate language by
    marker-token hits, predict the argmax (tie -> LANG_MARKERS order)."""
    toks = tokens_expr()
    scores = {
        lang: _marker_score(toks, markers)
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.when(best == 0, F.lit("unknown"))
    for lang in langs:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    sel = [F.col("doc_id"), F.col("lang").alias("labeled_lang")]
    sel += [scores[lang].alias(f"score_{lang}") for lang in langs]
    sel.append(pred.alias("predicted_lang"))
    return docs.select(*sel)


def fingerprints(docs: DataFrame) -> DataFrame:
    """Two deterministic document fingerprints:
    - ``norm_fp``: md5 of whitespace-normalized lowercased text (exact
      duplicate detection modulo formatting)
    - ``bag_fp``: md5 of the sorted distinct token set (order-
      insensitive near-duplicate blocking key)
    """
    norm = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    bag = F.array_join(F.array_sort(F.array_distinct(tokens_expr())), " ")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_fp"),
        F.md5(bag).alias("bag_fp"),
    )


def _nonblank_lines(text: str | Column = "text") -> Column:
    """Trimmed non-blank lines of a document."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.transform(F.split(c, "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition features, per document:

    - ``dup_line_ratio``: fraction of non-blank lines that are repeats
      of an earlier line (boilerplate/navigation detector);
    - ``top_bigram_ratio``: occurrences of the most frequent word
      bigram over all bigram slots (stuck-in-a-loop detector).

    Pure Column expressions (projection, no shuffle). The bigram and
    line arrays are BOUND in a staging projection before the fold —
    Catalyst does not CSE through HOF lambdas, so folding over the raw
    ``shingles`` expression rebuilds the whole bigram list per distinct
    bigram (measured: 9.1 s -> 0.8 s on the sf0.1 corpus). The fold
    itself is O(distinct x total) per document — right for
    web-document sizes where both are O(100s); for book-length
    documents use the exploded groupBy form
    (``top_ngram_ratio_exploded``), which trades a shuffle for
    per-row linearity.
    """
    staged = docs.select(
        "doc_id",
        _nonblank_lines().alias("_lines"),
        shingles_from_tokens(tokens_expr(), 2).alias("_bg"),
    )
    return staged.select(
        "doc_id",
        dup_line_ratio_expr(F.col("_lines")).alias("dup_line_ratio"),
        top_bigram_ratio_expr(F.col("_bg")).alias("top_bigram_ratio"),
    )


def dup_line_ratio_expr(lines: Column) -> Column:
    """Repeated-line fraction over a BOUND non-blank-lines column
    (see ``_nonblank_lines``)."""
    n = F.size(lines)
    return F.when(
        n > 0,
        F.round(1 - F.size(F.array_distinct(lines)) / n, 4),
    ).otherwise(F.lit(0.0))


def top_bigram_ratio_expr(bg: Column) -> Column:
    """Most-frequent-bigram share of all bigram slots. ``bg`` must be
    a BOUND bigram-array column, not a ``shingles_from_tokens(...)``
    expression — the fold references it per distinct element and
    Catalyst does not CSE through the lambda (see repetition_stats)."""
    top = F.array_max(
        F.transform(
            F.array_distinct(bg),
            lambda g: F.size(F.filter(bg, lambda x: x == g)),
        )
    )
    return F.when(
        F.size(bg) > 0, F.round(top / F.size(bg), 4)
    ).otherwise(F.lit(0.0))


def top_ngram_ratio_exploded(docs: DataFrame, n: int = 2) -> DataFrame:
    """Shuffle-based twin of ``top_bigram_ratio_expr`` for documents
    too large for the per-row HOF fold: explode n-grams, count per
    (doc, gram) with map-side combine, take the per-doc max. Cost is
    one shuffle of (doc_id, gram-hash) pairs; per-row work is linear
    in document length. Equality with the HOF form is pinned in
    tests/test_text_quality.py."""
    toked = docs.select("doc_id", tokens_expr().alias("_toks"))
    grams = toked.select(
        "doc_id",
        F.size(F.col("_toks")).alias("_ntok"),
        F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("gram"),
    )
    counts = grams.groupBy("doc_id", "_ntok", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    return counts.groupBy("doc_id").agg(
        F.round(F.max("c") / (F.first("_ntok") - (n - 1)), 4).alias(
            f"top_{n}gram_ratio"
        )
    )


def scrub_pii(docs: DataFrame, text: str = "text") -> DataFrame:
    """Replace URLs, emails, and IPv4 literals with typed placeholder
    tokens; emit match counts per category. URL first (emails embedded
    in URL userinfo must not double-fire), then email, then IP."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, URL_PATTERN, "<URL>"),
            EMAIL_PATTERN,
            "<EMAIL>",
        ),
        IPV4_PATTERN,
        "<IP>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(text, F.lit(URL_PATTERN), 0)).alias(
            "n_urls"
        ),
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(text, F.lit(IPV4_PATTERN), 0)).alias(
            "n_ipv4"
        ),
        scrubbed.alias("scrubbed_text"),
    )


_ORACLE_TOKS = "regexp_split_to_array(trim(text), '\\s+')"

# SQL twin of the non-blank-lines array (DuckDB list HOFs). The bigram
# twin is built inline in the text_stats oracle FROM the bound token
# column — see the CTE comment there; a module-level string that
# textually embeds the tokenizer would re-split the document per bigram
# (range(a,b) is half-open, so indices 1..len-1 match the 1-based
# construction shingles_from_tokens uses).
_ORACLE_LINES = (
    "list_filter(list_transform(string_split(text, chr(10)), "
    "x -> trim(x)), x -> x != '')"
)


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fastText-style inference shape):
# token -> feature-hash bucket -> weight -> mean -> squash. The weights
# here are a deterministic stand-in for a trained model (so the DuckDB
# oracle can state them in closed form); production swaps
# `clf_hashed_weights` for a real trained (bucket, weight) table and
# the broadcast-join form below is the deployment plan. The squash is
# the rational "fast sigmoid" x/(1+|x|) rescaled to (0,1) — pure IEEE
# arithmetic, bit-identical across engines, where exp()'s last-ulp
# libm differences could flip a round(…, 4) at a boundary.

CLF_BUCKETS = 64


def clf_bucket_expr(tok: Column) -> Column:
    """Feature-hash bucket of a token: md5-mod-K — the engine-portable
    hash (same idiom as the split/mix hashes, pipeline.py)."""
    return (
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
        % CLF_BUCKETS
    )


def clf_weight_expr(bucket: Column) -> Column:
    """Deterministic stand-in 'trained' weight per bucket, in
    [-1.0, 1.0] on a 0.1 grid."""
    return ((bucket * 37) % 21 - 10) / F.lit(10.0)


def clf_score_expr(toks: Column) -> Column:
    """Classifier score over a BOUND token-array column (same CSE rule
    as every HOF here): sigmoid-like squash of the mean hashed-bucket
    weight. Shuffle-free — one projection, no explode, no join."""
    raw = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + clf_weight_expr(clf_bucket_expr(t)),
    ) / F.size(toks)
    return F.round(
        F.lit(0.5) + F.lit(0.5) * raw / (F.lit(1.0) + F.abs(raw)), 4
    )


def clf_hashed_weights(spark, k: int = CLF_BUCKETS) -> DataFrame:
    """The stand-in weight table as a RELATION — what a trained model
    ships as. k rows; always broadcast-joined."""
    return spark.range(k).select(
        F.col("id").alias("bucket"),
        clf_weight_expr(F.col("id")).alias("weight"),
    )


def classifier_scores_joined(docs: DataFrame, weights: DataFrame) -> DataFrame:
    """Weight-TABLE inference form: explode tokens, broadcast-join the
    (bucket, weight) model, per-doc mean, squash — the deployment plan
    when weights come from training rather than a closed form. The
    groupBy(doc_id) aggregates map-side (a document's tokens are
    co-located in its scan partition), so the shuffle carries one
    partial row per document, not per token. Scores equal
    ``clf_score_expr`` up to float summation order (HOF folds in array
    order; the hash-agg sums in partition order) — pinned to 1e-4 in
    test_text_quality.py."""
    from flink_exercise_spark.sources.tables import spread

    toked = spread(docs, "doc_id").select(
        "doc_id", tokens_expr().alias("_toks")
    )
    per_tok = (
        toked.select(
            "doc_id",
            F.size("_toks").alias("_n"),
            F.explode_outer("_toks").alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
    )
    raw = F.col("_s") / F.col("_n")
    scored = (
        per_tok.withColumn("bucket", clf_bucket_expr(F.col("tok")))
        .join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "_n")
        .agg(F.sum("weight").alias("_s"))
    )
    # Left join from the full document base: a NULL-text document has
    # no token rows after the isNotNull filter and would silently
    # VANISH from an inner-grouped result, where the HOF form returns
    # it with a NULL score — the equality contract requires one row
    # per input document on both paths.
    return (
        toked.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.lit(0.5) + F.lit(0.5) * raw / (F.lit(1.0) + F.abs(raw)),
                4,
            ).alias("clf_score"),
        )
    )


@register(
    "text_stats",
    # Pin: tests/test_rotation_pins.py
    # Token statistics AND C4/Gopher-style quality features in one
    # per-document pass — the columns every pre-training corpus filter
    # thresholds over. Round 6 adds the Gopher repetition features
    # (duplicate-line fraction, top-bigram share) as two more columns
    # of the same projection — consolidation, no new registry slot.
    # The oracle states top_bigram_ratio as a LINEAR unnest + GROUP BY
    # (not the engine's per-row HOF fold): DuckDB re-evaluates a list
    # expression per lambda reference, which turns the folded form
    # quadratic-with-a-list-rebuild (measured 612 s at sf0.1 vs 0.9 s
    # for this formulation) — same answer, stated scan-shaped.
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, text, {_ORACLE_TOKS} AS T, {_ORACLE_LINES} AS LN
      FROM documents
    ), staged AS (
      -- BG built from the BOUND T column (not the split expression):
      -- DuckDB materializes CTE columns once, so each bigram indexes
      -- the token array instead of re-splitting the document
      -- (measured 10 s -> 0.9 s at sf0.1).
      SELECT doc_id, text, T, LN,
             list_transform(range(1, len(T)),
                            i -> T[i] || ' ' || T[i+1]) AS BG,
             -- hashed-linear-classifier raw score, bound once (the
             -- squash below references it twice)
             list_aggregate(list_transform(T,
               t -> (((CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)
                       % {CLF_BUCKETS}) * 37) % 21 - 10) / 10.0),
               'sum') / len(T) AS RAW
      FROM toked
    ), topbg AS (
      SELECT doc_id, max(c) AS topc, CAST(sum(c) AS BIGINT) AS nbg
      FROM (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(BG) AS g FROM staged)
        GROUP BY 1, 2
      ) GROUP BY doc_id
    )
    SELECT s.doc_id,
           length(text) AS n_chars_calc,
           len(T) AS n_tokens,
           len(list_distinct(T)) AS n_distinct_tokens,
           round(length(regexp_replace(trim(text), '\\s', '', 'g'))
                 / len(T), 4) AS avg_token_len,
           round(len(list_filter(T,
                 t -> t IN {STOPWORDS!r})) / len(T), 4)
             AS stopword_ratio,
           round((length(text) - length(regexp_replace(text, '[^\\w\\s]',
                 '', 'g'))) / length(text), 4) AS punct_ratio,
           round(len(list_distinct(T)) / len(T), 4) AS lexical_diversity,
           CASE WHEN len(LN) > 0
                THEN round(1 - len(list_distinct(LN)) / len(LN), 4)
                ELSE 0.0 END AS dup_line_ratio,
           CASE WHEN t.nbg > 0
                THEN round(t.topc / t.nbg, 4)
                ELSE 0.0 END AS top_bigram_ratio,
           round(0.5 + 0.5 * RAW / (1 + abs(RAW)), 4) AS clf_score
    FROM staged s LEFT JOIN topbg t USING (doc_id)
    """,
    doc="Per-document token statistics + C4/Gopher-style quality "
        "features (length, stopword/punct ratios, lexical diversity, "
        "duplicate-line and top-bigram repetition) + hashed linear "
        "quality-classifier score (fastText-style inference, "
        "shuffle-free)",
    tags=("text", "documents", "quality"),
)
def q_text_stats(spark, sf_dir):
    # spread: the bigram fold is the one CPU-heavy projection in the
    # text family (O(distinct x total) per doc) — a single-file corpus
    # must not run it on one core (measured 2.1 s -> 0.8 s at sf0.1;
    # no-op at scale where the scan already splits).
    docs = spread(load_table(prep(spark), sf_dir, "documents"))
    # Bind the token array ONCE, and likewise the line and bigram
    # arrays: the lambda-bearing features below are outside
    # whole-stage-codegen subexpression elimination, so passing raw
    # split(...)/shingle expressions re-evaluates them per lambda
    # reference (measured: the top-bigram fold over an unbound bigram
    # expression cost 9.1 s vs 0.8 s bound, sf0.1).
    toked = docs.select("doc_id", "text", tokens_expr().alias("_toks"))
    staged = toked.select(
        "doc_id",
        "text",
        "_toks",
        _nonblank_lines().alias("_lines"),
        shingles_from_tokens(F.col("_toks"), 2).alias("_bg"),
    )
    toks = F.col("_toks")
    n_tokens = F.size(toks)
    token_chars = F.length(F.regexp_replace(F.trim("text"), r"\s", ""))
    n_stop = _marker_score(toks, STOPWORDS)
    n_punct = F.length("text") - F.length(
        F.regexp_replace("text", r"[^\w\s]", "")
    )
    return staged.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(token_chars / n_tokens, 4).alias("avg_token_len"),
        F.round(n_stop / n_tokens, 4).alias("stopword_ratio"),
        F.round(n_punct / F.length("text"), 4).alias("punct_ratio"),
        F.round(F.size(F.array_distinct(toks)) / n_tokens, 4).alias(
            "lexical_diversity"
        ),
        dup_line_ratio_expr(F.col("_lines")).alias("dup_line_ratio"),
        top_bigram_ratio_expr(F.col("_bg")).alias("top_bigram_ratio"),
        clf_score_expr(toks).alias("clf_score"),
    )


def _lang_id_oracle() -> str:
    score = {
        lang: f"len(list_filter({_ORACLE_TOKS}, t -> t IN {markers!r}))"
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(score[lang] for lang in langs) + ")"
    whens = "\n           ".join(
        f"WHEN {score[lang]} = {best} THEN '{lang}'" for lang in langs
    )
    score_cols = ",\n           ".join(
        f"{score[lang]} AS score_{lang}" for lang in langs
    )
    return f"""
    WITH profile AS (
      SELECT lang, count(*) AS lang_n_docs,
             round(avg(n_chars), 4) AS lang_avg_chars,
             count(DISTINCT source) AS lang_n_sources
      FROM documents GROUP BY lang
    )
    SELECT doc_id, d.lang AS labeled_lang,
           {score_cols},
           CASE WHEN {best} = 0 THEN 'unknown'
           {whens}
           END AS predicted_lang,
           p.lang_n_docs, p.lang_avg_chars, p.lang_n_sources
    FROM documents d JOIN profile p ON d.lang = p.lang
    """


@register(
    "text_language_id",
    # Pin: tests/test_rotation_pins.py
    # Absorbed the former text_lang_profile entry in r6 (registry
    # capacity: consolidating near-duplicate showcases keeps every
    # oracled entry inside the rotation's 2-round freshness bound —
    # see registry._ordered): each per-document prediction row now
    # carries its labeled language's corpus profile, the aggregate
    # broadcast-joined back onto the rows.
    oracle=_lang_id_oracle(),
    doc="Keyword-marker language identification, each row enriched "
        "with its labeled language's corpus facet profile (doc count, "
        "avg chars, distinct sources) via a broadcast re-join of the "
        "per-language aggregate",
    tags=("text", "documents"),
)
def q_lang_id(spark, sf_dir):
    docs = load_table(prep(spark), sf_dir, "documents")
    pred = language_id(docs)
    # Tiny per-language aggregate (|langs| rows) broadcast back onto
    # the per-document rows — the canonical enrich-with-group-stats
    # shape: two-phase hash agg, then a map-side join, no row shuffle.
    profile = docs.groupBy(F.col("lang").alias("labeled_lang")).agg(
        F.count(F.lit(1)).alias("lang_n_docs"),
        F.round(F.avg("n_chars"), 4).alias("lang_avg_chars"),
        F.countDistinct("source").alias("lang_n_sources"),
    )
    return pred.join(F.broadcast(profile), "labeled_lang").select(
        "doc_id",
        "labeled_lang",
        *[f"score_{lang}" for lang in LANG_MARKERS],
        "predicted_lang",
        "lang_n_docs",
        "lang_avg_chars",
        "lang_n_sources",
    )


# PII scrub SQL twin: same patterns, same URL -> email -> IP order,
# 'g' flag because DuckDB's regexp_replace is first-match by default
# where Spark's is replace-all.
_ORACLE_SCRUB = (
    f"regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{URL_PATTERN}', '<URL>', 'g'), "
    f"'{EMAIL_PATTERN}', '<EMAIL>', 'g'), "
    f"'{IPV4_PATTERN}', '<IP>', 'g')"
)


CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Fixed-size token chunking with overlap — the RAG/embedding-
    pipeline splitter (documents become ``chunk_tokens``-token windows
    advancing by ``chunk_tokens - overlap``; the final window may be
    short). Complements sequence packing (packing.py fills fixed
    contexts ACROSS documents; this splits WITHIN a document, and the
    overlap preserves cross-boundary context for retrieval).

    One bound token array per document, one ``posexplode`` over the
    start offsets, ``slice`` + ``concat_ws`` per chunk — pure codegen,
    zero shuffles, scan-bound at any corpus size. The blank-doc guard
    is a cheap regex on the raw text at the scan (the banding
    pushdown lesson, SCALE.md: never filter on the built array).

    Output: (doc_id, chunk_id, chunk_text, n_tokens), chunk_id dense
    from 0 in document order."""
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap {overlap} must be < chunk_tokens {chunk_tokens}"
        )
    step = chunk_tokens - overlap
    toks = docs.filter(F.col("text").rlike(r"\S")).select(
        "doc_id", tokens_expr().alias("_toks")
    )
    # Start offsets stop at greatest(1, n - overlap), NOT n: a start
    # inside the final window's overlap region would emit a chunk that
    # is a strict SUBSET of the previous chunk (e.g. n = chunk_tokens
    # exactly would yield the whole doc AND its own tail) — duplicate
    # content injected into the very pipeline chunking feeds. With the
    # cap, every chunk contributes >= 1 new token and the document end
    # stays covered (last start + chunk_tokens - 1 >= n).
    starts = toks.select(
        "doc_id",
        "_toks",
        F.posexplode(
            F.sequence(
                F.lit(1),
                F.greatest(F.lit(1), F.size("_toks") - overlap),
                F.lit(step),
            )
        ).alias("chunk_id", "_start"),
    )
    return starts.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.concat_ws(
            " ", F.slice("_toks", F.col("_start"), chunk_tokens)
        ).alias("chunk_text"),
        F.least(
            F.lit(chunk_tokens), F.size("_toks") - F.col("_start") + 1
        ).cast("int").alias("n_tokens"),
    )


@register(
    "text_chunk_overlap",
    # Pin: tests/test_chunking.py python reference + hand cases
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE regexp_matches(text, '\\S')
    ), starts AS (
      SELECT doc_id, t,
             unnest(generate_series(1,
                    greatest(1, len(t) - {CHUNK_OVERLAP}),
                    {CHUNK_TOKENS - CHUNK_OVERLAP})) AS s
      FROM toks
    )
    SELECT doc_id,
           CAST((s - 1) // {CHUNK_TOKENS - CHUNK_OVERLAP} AS INT)
             AS chunk_id,
           array_to_string(t[s : s + {CHUNK_TOKENS - 1}], ' ')
             AS chunk_text,
           CAST(least({CHUNK_TOKENS}, len(t) - s + 1) AS INT)
             AS n_tokens
    FROM starts
    """,
    doc="RAG-style document chunking: fixed 64-token windows "
        "advancing by 48 (16-token overlap), short final window — "
        "pure-codegen slice/explode, zero shuffles",
    tags=("text", "documents", "chunking"),
)
def q_chunk_overlap(spark, sf_dir):
    return chunk_documents(load_table(prep(spark), sf_dir, "documents"))


@register(
    "text_fingerprints",
    # Hashlib pin: tests/test_rotation_pins.py.
    # Fingerprints + BPE-ish token budget + PII scrub accounting in one
    # per-document pass (round 6 consolidates the PII scrubber here:
    # same projection shape, no new registry slot). The scrubbed text
    # itself ships as a fingerprint so the full replacement output is
    # value-checked without hashing megabytes through the driver.
    oracle=f"""
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
             AS norm_fp,
           md5(array_to_string(list_sort(list_distinct({_ORACLE_TOKS})),
               ' ')) AS bag_fp,
           len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}'))
             AS n_bpe_tokens,
           len(regexp_extract_all(text, '{URL_PATTERN}')) AS n_urls,
           len(regexp_extract_all(text, '{EMAIL_PATTERN}')) AS n_emails,
           len(regexp_extract_all(text, '{IPV4_PATTERN}')) AS n_ipv4,
           md5({_ORACLE_SCRUB}) AS scrubbed_fp
    FROM documents
    """,
    doc="Deterministic document fingerprints (normalized rolling hash + "
        "bag-of-tokens), BPE-style pre-tokenizer token counts, and "
        "PII-scrub accounting (URL/email/IPv4 counts + scrubbed-text "
        "fingerprint)",
    tags=("text", "documents", "dedup", "pii"),
)
def q_fingerprints(spark, sf_dir):
    docs = load_table(prep(spark), sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    bag = F.array_join(F.array_sort(F.array_distinct(tokens_expr())), " ")
    bpe = F.regexp_extract_all("text", F.lit(BPE_TOKEN_PATTERN), 0)
    # One projection, no join: scrub_pii's expressions are inlined so
    # the whole entry stays a single scan-project (plan-asserted).
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", URL_PATTERN, "<URL>"),
            EMAIL_PATTERN,
            "<EMAIL>",
        ),
        IPV4_PATTERN,
        "<IP>",
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_fp"),
        F.md5(bag).alias("bag_fp"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(URL_PATTERN), 0)).alias(
            "n_urls"
        ),
        F.size(F.regexp_extract_all("text", F.lit(EMAIL_PATTERN), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(IPV4_PATTERN), 0)).alias(
            "n_ipv4"
        ),
        F.md5(scrubbed).alias("scrubbed_fp"),
    )


# NOTE: the former text_lang_profile entry (corpus facet profile by
# labeled language, driver-green r3+r4) was folded into
# text_language_id's output in r6 — same GROUP BY, now broadcast-joined
# onto the per-document predictions — to hold the oracled-entry count
# at the rotation window's steady-state capacity (registry._ordered).



# --- HTML -> text extraction (the web-corpus front door) ---------------------
#
# Web corpora arrive as markup; CCNet/RefinedWeb-style pipelines strip
# tags + boilerplate BEFORE the quality gates implemented above (VERDICT
# r7 gap #1). Same discipline as every operator in this module: pure
# Column expressions — regexp_replace / replace chains that whole-stage-
# codegen compiles, shuffle-free, scan-bound at 100 TB — with the exact
# twin expressible in DuckDB SQL for the value-hash oracle.
#
# Scope (documented seam): regex-level extraction. Tags with a literal
# '>' inside a QUOTED attribute value (<a title="a>b">) truncate early —
# full HTML5 tokenization needs a parser (a mapInPandas seam, like the
# multimodal codecs), which real pipelines take from resiliparse/trafila-
# tura. Every pattern is linear-time in both Java regex and RE2 (no
# nested quantifiers; the non-greedy .*? is anchored by literal tails).

# Unescape order is load-bearing and identical on both engines: named/
# numeric entities first, '&amp;' LAST — so 'x &amp;lt; y' round-trips
# to 'x &lt; y' (one level), never double-unescapes to 'x < y'.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

_HTML_SCRIPT = r"(?is)<script[^>]*>.*?</script>"
_HTML_STYLE = r"(?is)<style[^>]*>.*?</style>"
_HTML_COMMENT = r"(?s)<!--.*?-->"
_HTML_TAG = r"(?s)<[^>]+>"


def escape_html_expr(col: str | Column) -> Column:
    """Escape text for embedding as HTML character data ('&' first so
    escaping never re-escapes its own output)."""
    c = F.col(col) if isinstance(col, str) else col
    for ch, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        c = F.replace(c, F.lit(ch), F.lit(ent))
    return c


def strip_html_expr(col: str | Column) -> Column:
    """Markup -> visible text: drop script/style SUBTREES (their
    character data is code, not prose), drop comments, replace every
    remaining tag with a space (tags are word boundaries: '<p>a</p>b'
    must not fuse words), THEN unescape entities — unescaping first
    would turn '&lt;script&gt;' character data into live markup —
    and finally collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _HTML_SCRIPT, " ")
    c = F.regexp_replace(c, _HTML_STYLE, " ")
    c = F.regexp_replace(c, _HTML_COMMENT, " ")
    c = F.regexp_replace(c, _HTML_TAG, " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_extract(
    docs: DataFrame, html: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document HTML -> text extraction: (id, n_chars_html,
    text_clean, n_chars_clean). A shuffle-free projection — the
    extracted column feeds the existing quality/language/dedup gates
    directly (see pipeline.llm_data_prep)."""
    return docs.select(
        id_col,
        F.length(F.col(html)).cast("long").alias("n_chars_html"),
        strip_html_expr(html).alias("text_clean"),
    ).withColumn("n_chars_clean", F.length("text_clean").cast("long"))


def html_wrap_expr() -> Column:
    """The deterministic fixture-HTML rendering as a bare Column
    (expects doc_id/source/text columns) — shared by
    ``wrap_documents_html`` and streaming tests that need an
    HTML-carrying stream while keeping the source schema (a stateless
    projection, so it composes onto streaming relations)."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("<html><head><title>Doc "),
        did,
        F.lit(
            '</title><style>p { color: #fff; }</style>'
            '<script>if (1 < 2) { alert("x & y"); }</script>'
            "</head><body><!-- doc "
        ),
        did,
        F.lit(' --><h1 class="hd">'),
        F.col("source"),
        F.lit("</h1><p>"),
        escape_html_expr(F.coalesce(F.col("text"), F.lit(""))),
        F.lit("</p><br/></body></html>"),
    )


def wrap_documents_html(docs: DataFrame) -> DataFrame:
    """Deterministic HTML rendering of the documents fixture — the
    test/oracle harness for ``html_extract`` (the fixture corpus has no
    markup column; the mm_* operators' attach-payload pattern). The
    wrapper exercises every extraction rule: a script with '<' '&' and
    quotes, a style block, a comment carrying the doc id, attributes,
    a self-closing tag, and entity-escaped body text."""
    return docs.select("doc_id", html_wrap_expr().alias("html"))


_HTML_ORACLE = """
    WITH wrapped AS (
      SELECT doc_id,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
             '</title><style>p {{ color: #fff; }}</style>' ||
             '<script>if (1 < 2) {{ alert("x & y"); }}</script>' ||
             '</head><body><!-- doc ' || CAST(doc_id AS VARCHAR) ||
             ' --><h1 class="hd">' || source || '</h1><p>' ||
             replace(replace(replace(coalesce(text, ''),
               '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
             '</p><br/></body></html>' AS html
      FROM documents
    ), stripped AS (
      SELECT doc_id, html,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               html,
               '{script}', ' ', 'g'),
               '{style}', ' ', 'g'),
               '{comment}', ' ', 'g'),
               '{tag}', ' ', 'g') AS t
      FROM wrapped
    )
    SELECT doc_id,
           CAST(length(html) AS BIGINT) AS n_chars_html,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(t,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             '\\s+', ' ', 'g')) AS text_clean,
           CAST(length(trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(t,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             '\\s+', ' ', 'g'))) AS BIGINT) AS n_chars_clean
    FROM stripped
""".format(
    script=_HTML_SCRIPT,
    style=_HTML_STYLE,
    comment=_HTML_COMMENT,
    tag=_HTML_TAG,
)


@register(
    "text_html_extract",
    # Pin: tests/test_html.py fixture round-trip vs a pure-python
    # extractor.
    oracle=_HTML_ORACLE,
    doc="HTML -> text extraction (script/style subtree drop, comment "
        "drop, tag-as-boundary strip, entity unescape, whitespace "
        "normalization) over a deterministic HTML rendering of the "
        "corpus — the web-corpus front door ahead of the quality "
        "gates; pure codegen projection, zero shuffles",
    tags=("text", "documents", "html"),
)
def q_html_extract(spark, sf_dir):
    docs = load_table(prep(spark), sf_dir, "documents")
    return html_extract(wrap_documents_html(docs))
